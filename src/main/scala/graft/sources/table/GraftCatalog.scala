package graft.sources.table

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{FunctionCatalog, Identifier, MetadataColumn, StagedTable, StagingTableCatalog, SupportsDelete, SupportsMetadataColumns, SupportsRead, SupportsRowLevelOperations, SupportsWrite, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.catalog.functions.UnboundFunction
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, RowLevelOperationBuilder, RowLevelOperationInfo, WriteBuilder}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.operators.{BucketTerm, DaysTerm, IdentityTerm, MonthsTerm, PartSpec, PartTerm, TimeTravel, YearsTerm}
import graft.sources.cdf.CdfWriteBuilder

/** The commit log as a SQL CATALOG (`TableCatalog`): registered under
  * `spark.sql.catalog.<name> = graft.sources.table.GraftCatalog` with a
  * `.warehouse` directory, every commit-log table below that directory
  * resolves by NAME —
  *
  * {{{
  *   CREATE TABLE cat.orders_t (o_orderkey BIGINT, ...)   -- gen 0, schema-only
  *   INSERT INTO cat.orders_t SELECT ...                  -- one atomic generation
  *   SELECT ... FROM cat.orders_t                         -- current snapshot
  *   SELECT ... FROM cat.orders_t VERSION AS OF 1         -- q157 time travel, in SQL
  *   SELECT ... FROM cat.orders_t TIMESTAMP AS OF '...'   -- q187 resolution, in SQL
  * }}}
  *
  * Reads resolve through [[GraftLogTable]] — file skipping, footer
  * aggregates, SPJ, runtime pruning and the `_file` metadata column all
  * apply to catalog-resolved tables unchanged. Writes go through the
  * q193 staged-commit path ([[CdfWriteBuilder]]): executors stage plain
  * parquet, the driver validates constraints and lands ONE atomic
  * generation per save — so `INSERT INTO` is transactional and every
  * earlier generation stays readable via `VERSION AS OF`. Time-traveled
  * loads are read-only: writing to a historical snapshot is refused
  * loudly (the log's history is immutable).
  *
  * Catalog metadata is the FILESYSTEM: a table exists iff its directory
  * carries a `_graft_log`, so there is no second metastore to drift out
  * of sync with the log, and `listTables` is one directory listing.
  *
  * Reference: Javier009/eCommerce_Data_Pipeline's Redshift_Queries
  * SQL files address warehouse tables by NAME through a catalog; this
  * is that resolution layer over the engine's own table format.
  */
class GraftCatalog extends TableCatalog with StagingTableCatalog
    with FunctionCatalog {

  private var catName: String = _
  private var warehouse: String = _

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"graft catalog '$name': set spark.sql.catalog.$name.warehouse"))
  }

  override def name(): String = catName

  /** Spark gates `ALTER TABLE … ADD COLUMN … DEFAULT` on this catalog
    * capability (r14 verdict #3). */
  override def capabilities()
      : java.util.Set[org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    java.util.EnumSet.of(org.apache.spark.sql.connector.catalog
      .TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  /** Single flat namespace: `cat.tbl` (or the session's `USE cat`) —
    * every table is a directory directly under the warehouse. */
  private def rootFor(ident: Identifier): String = {
    require(ident.namespace().isEmpty ||
        ident.namespace().sameElements(Array("default")),
      s"graft catalog '$catName': flat namespace only, got ${ident}")
    require(!ident.name().contains("/") && !ident.name().startsWith("."),
      s"graft catalog '$catName': bad table name ${ident.name()}")
    s"$warehouse/${ident.name()}"
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = new Path(warehouse)
    val fs = dir.getFileSystem(
      SparkSession.active.sessionState.newHadoopConf())
    if (!fs.exists(dir)) return Array.empty
    fs.listStatus(dir).collect {
      case st if st.isDirectory &&
          TimeTravel.currentVersion(st.getPath.toString) >= 0 =>
        Identifier.of(Array.empty, st.getPath.getName)
    }
  }

  override def tableExists(ident: Identifier): Boolean = {
    // `tbl@branch` exists iff the table AND the branch do — so
    // `writeStream.toTable` resolves the branch write surface instead
    // of trying to CREATE a table whose name carries '@' (refused)
    val at = ident.name().indexOf('@')
    if (at > 0) {
      val root = rootFor(
        Identifier.of(ident.namespace(), ident.name().substring(0, at)))
      val live = TimeTravel.currentVersion(root)
      live >= 0 && TimeTravel.branchesFor(root, live)
        .contains(ident.name().substring(at + 1))
    } else TimeTravel.currentVersion(rootFor(ident)) >= 0
  }

  override def loadTable(ident: Identifier): Table =
    load(ident, None)

  /** `VERSION AS OF <ref>` — a generation number verbatim, or a
    * snapshot TAG name (Iceberg's named refs: `VERSION AS OF 'v1'`),
    * resolved at the current generation. */
  override def loadTable(ident: Identifier, version: String): Table =
    load(ident, Some(TimeTravel.resolveVersionRef(rootFor(ident), version)))

  /** `TIMESTAMP AS OF <ts>` — DSv2 hands MICROSECONDS since the epoch;
    * resolution is the q187 contract (newest commit at-or-before). */
  override def loadTable(ident: Identifier, timestamp: Long): Table =
    load(ident, Some(TimeTravel.versionAtTime(rootFor(ident),
      timestamp / 1000L)))

  private def load(ident: Identifier, gen: Option[Int]): Table = {
    // `tbl@branch` addresses a BRANCH for the WAP workflow (Iceberg's
    // write-audit-publish): `INSERT INTO cat.`tbl@audit`` stages
    // through the ordinary distributed writer but the commit claims a
    // BRANCH sequence number — main readers never see the rows until
    // graft_ff publishes them (r18 verdict #2). Write surface only;
    // audits read via graft_branch_read.
    val at = ident.name().indexOf('@')
    if (at > 0) {
      require(gen.isEmpty,
        s"graft catalog: time travel over branch identifier ${ident.name()} " +
          "is not supported — branches have one head")
      val tbl = ident.name().substring(0, at)
      val branch = ident.name().substring(at + 1)
      val root = rootFor(Identifier.of(ident.namespace(), tbl))
      if (TimeTravel.currentVersion(root) < 0)
        throw new NoSuchTableException(ident)
      val (bbase, schema, cmap) = TimeTravel.branchWriteInfo(root, branch)
      return CatalogBranchTable(schema, root, branch, cmap, bbase)
    }
    val root = rootFor(ident)
    val live = TimeTravel.currentVersion(root)
    if (live < 0) throw new NoSuchTableException(ident)
    val g = gen.getOrElse(live)
    require(g >= 0 && g <= live,
      s"graft catalog: generation $g out of range [0, $live] for $ident")
    val schema = TimeTravel.schemaAsOf(root, g).getOrElse(
      graft.Tables.parquet(SparkSession.active, s"$root/data").schema)
    CatalogLogTable(schema, root, g, writable = gen.isEmpty)
  }

  /** CREATE TABLE: a schema-only generation 0 — the same commit shape as
    * any other, so the log IS the table's existence.
    *
    * `PARTITIONED BY (col)` (ONE identity transform, r13 verdict #2)
    * records the column as the `graft.partitionCol` table property in
    * that same commit: every later `INSERT INTO` then requires a
    * clustered+sorted distribution on it, lands one file per value, and
    * writes the partition values into the commit — so catalog-created
    * tables get q197-style equality pruning, storage-partitioned joins
    * and DPP without a single library call. Reference: the warehouse
    * layout itself is hive-partitioned (transactions_mock_data.py:85-91). */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val spec = partSpecOf(partitions, schema)
    require(!ident.name().contains("@"),
      s"graft catalog: '@' addresses a branch (${ident.name()}) — " +
        "create the table first, then graft_branch")
    if (tableExists(ident)) throw new TableAlreadyExistsException(
      Seq(catName, ident.name()))
    TimeTravel.commitStagedFiles(SparkSession.active, rootFor(ident),
      Nil, schema.toDDL,
      props = specProps(spec) ++ userProps(properties, spec, schema))
    loadTable(ident)
  }

  /** `CREATE TABLE … TBLPROPERTIES (…)`: the user's `graft.*` keys land
    * in the SAME generation-0 commit as the schema — a table can be
    * born CDF-enabled / DV-enabled / schema-enforced instead of needing
    * a follow-up ALTER (they used to be silently dropped). Spec keys
    * validate exactly like the SET TBLPROPERTIES route and refuse when
    * `PARTITIONED BY` already declared a spec — two sources of truth
    * for the layout would diverge silently. Non-graft keys (Spark adds
    * owner/provider and comment bookkeeping) are not table semantics
    * here and are ignored. */
  /** `_file`/`_pos` are METADATA columns (the merge-on-read row id):
    * a USER column with either name would be silently shadowed — worse,
    * ChainedReader fills `_pos` from the physical row counter, so a
    * data column named `_pos` would have its stored values clobbered on
    * every read (r16 ADVICE). Refused at create/evolve time, where the
    * statement is still the user's to fix. */
  private def requireNotReserved(name: String, what: String): Unit =
    require(name != FileMetaColumn.NAME && name != PosMetaColumn.NAME,
      s"graft catalog: $what '$name' collides with the reserved " +
        s"${FileMetaColumn.NAME}/${PosMetaColumn.NAME} metadata columns")

  private def userProps(properties: java.util.Map[String, String],
      spec: Seq[PartTerm], schema: StructType): Seq[String] = {
    schema.fieldNames.foreach(requireNotReserved(_, "column"))
    import scala.jdk.CollectionConverters._
    val graftProps = properties.asScala.toSeq
      .filter(_._1.startsWith("graft.")).sortBy(_._1)
    graftProps.foreach { case (k, v) =>
      require(!k.contains("|"), s"graft catalog: bad property key '$k'")
      if (k == "graft.partitionSpec" || k == "graft.partitionCol") {
        // even an EMPTY-valued spec key conflicts (r16 ADVICE): folding
        // after specProps in the same props array, it would silently
        // clear the PARTITIONED BY-derived line
        require(spec.isEmpty,
          s"graft catalog: TBLPROPERTIES $k conflicts with PARTITIONED " +
            "BY — declare the partition layout exactly once")
        if (v.nonEmpty) validateTerms(
          if (k == "graft.partitionSpec") PartSpec.parse(v)
          else Seq(IdentityTerm(v)), schema)
      }
      // GENERATED ALWAYS AS IDENTITY (r18 verdict #5): the surrogate-key
      // column must exist and be BIGINT — the engine assigns monotone
      // ids at every INSERT/epoch, claim-protected by the hwm property
      if (k == TimeTravel.IdentityColKey && v.nonEmpty) {
        require(schema.fields.exists(f => f.name == v &&
            f.dataType == org.apache.spark.sql.types.LongType),
          s"graft catalog: $k names '$v', which must be a BIGINT " +
            "column of the table")
        // the hive-partitioned staging path does not run the identity
        // fill — refuse the combination at DDL time instead of landing
        // silent NULL ids on the first INSERT
        require(spec.isEmpty && !graftProps.exists { case (pk, pv) =>
            (pk == "graft.partitionSpec" || pk == "graft.partitionCol") &&
              pv.nonEmpty },
          s"graft catalog: $k is not supported on PARTITIONED tables — " +
            "drop the partition spec or the identity column")
      }
    }
    graftProps.map { case (k, v) => s"$k|$v" }
  }

  /** The declared spec's table-property lines: a single identity column
    * keeps the legacy `graft.partitionCol` key (every existing reader —
    * SPJ reporting, DPP, streaming writes — resolves it unchanged);
    * anything richer records the r14-verdict-#1 `graft.partitionSpec`. */
  private def specProps(spec: Seq[PartTerm]): Seq[String] = spec match {
    case Nil => Nil
    case Seq(IdentityTerm(c)) => Seq(s"graft.partitionCol|$c")
    case terms => Seq(s"graft.partitionSpec|${PartSpec.format(terms)}")
  }

  /** Term-level spec validation — shared by CREATE's transform parsing
    * and the SET TBLPROPERTIES evolution route, so both fail the same
    * way: every column exists in the logical schema, date transforms
    * need DATE, identity/bucket need the supported key types. */
  private def validateTerms(terms: Seq[PartTerm],
      schema: StructType): Unit = terms.foreach { term =>
    require(schema.fieldNames.contains(term.col),
      s"graft catalog: partition column ${term.col} is not in the " +
        "table schema")
    val dt = schema.fields(schema.fieldIndex(term.col)).dataType
    term match {
      case IdentityTerm(c) => dt match {
        case org.apache.spark.sql.types.StringType |
             org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.DateType => ()
        case other => throw new UnsupportedOperationException(
          s"graft catalog: identity partition on $other column $c")
      }
      case BucketTerm(_, c) => dt match {
        case org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.StringType => ()
        case other => throw new UnsupportedOperationException(
          s"graft catalog: bucket over $other column $c")
      }
      case _ => require(dt == org.apache.spark.sql.types.DateType,
        s"graft catalog: ${term.tag} transform on ${term.col} needs a " +
          s"DATE column, got $dt")
    }
  }

  /** RENAME/DROP COLUMN guard (r15 ADVICE): a column the ACTIVE
    * partition spec references must not be renamed or dropped — the
    * stored `graft.partitionSpec`/`graft.partitionCol` property would
    * keep the stale name and every later INSERT or streaming write
    * would fail with an obscure resolution error (Delta likewise blocks
    * partition-column renames). Evolve the spec first:
    * `ALTER TABLE … SET TBLPROPERTIES ('graft.partitionSpec' = …)`. */
  private def requireNotSpecReferenced(root: String, colName: String,
      what: String): Unit = {
    val props = TimeTravel.propsAsOf(root, TimeTravel.currentVersion(root))
    val terms: Seq[PartTerm] =
      props.get("graft.partitionSpec").filter(_.nonEmpty)
        .map(PartSpec.parse)
        .orElse(props.get("graft.partitionCol").filter(_.nonEmpty)
          .map(c => Seq(IdentityTerm(c)): Seq[PartTerm]))
        .getOrElse(Nil)
    require(!terms.exists(_.col == colName),
      s"graft catalog: cannot $what COLUMN $colName — it is referenced " +
        "by the table's active partition spec; evolve the spec first " +
        "(ALTER TABLE … SET TBLPROPERTIES ('graft.partitionSpec' = …), " +
        "or clear it with an empty value)")
  }

  /** `PARTITIONED BY` transforms → [[PartTerm]]s (r14 verdict #1):
    * identity columns (any number), `bucket(n, col)` over
    * BIGINT/INT/STRING keys, and `months`/`days`/`years` over DATE
    * columns. Anything else refuses loudly at CREATE. */
  private def partSpecOf(partitions: Array[Transform],
      schema: StructType): Seq[PartTerm] = partitions.toSeq.map { t =>
    def ref: String = {
      val refs = t.references()
      require(refs.length == 1 && refs(0).fieldNames().length == 1,
        s"graft catalog: partition transform $t must reference exactly " +
          "one top-level column")
      val c = refs(0).fieldNames()(0)
      require(schema.fieldNames.contains(c),
        s"graft catalog: partition column $c is not in the table schema")
      c
    }
    def colType(c: String) =
      schema.fields(schema.fieldIndex(c)).dataType
    def requireDate(c: String): String = {
      require(colType(c) == org.apache.spark.sql.types.DateType,
        s"graft catalog: ${t.name()}($c) needs a DATE column, " +
          s"got ${colType(c)}")
      c
    }
    t.name() match {
      case "identity" =>
        val c = ref
        colType(c) match {
          case org.apache.spark.sql.types.StringType |
               org.apache.spark.sql.types.LongType |
               org.apache.spark.sql.types.IntegerType |
               org.apache.spark.sql.types.DateType => IdentityTerm(c)
          case other => throw new UnsupportedOperationException(
            s"graft catalog: identity partition on $other column $c")
        }
      case "bucket" =>
        val n = t.arguments().collectFirst {
          case l: org.apache.spark.sql.connector.expressions.Literal[_]
              if l.value().isInstanceOf[Number] =>
            l.value().asInstanceOf[Number].intValue()
        }.getOrElse(throw new UnsupportedOperationException(
          s"graft catalog: bucket transform $t carries no bucket count"))
        val c = ref
        colType(c) match {
          case org.apache.spark.sql.types.LongType |
               org.apache.spark.sql.types.IntegerType |
               org.apache.spark.sql.types.StringType => BucketTerm(n, c)
          case other => throw new UnsupportedOperationException(
            s"graft catalog: bucket over $other column $c")
        }
      case "months" => MonthsTerm(requireDate(ref))
      case "days" => DaysTerm(requireDate(ref))
      case "years" => YearsTerm(requireDate(ref))
      case other => throw new UnsupportedOperationException(
        s"graft catalog: unsupported partition transform $other — " +
          "use identity columns, bucket(n, col), months/days/years(col)")
  }
  }

  // ---- FunctionCatalog: the partition-transform functions the write
  // distribution binds (the Iceberg pattern — see GraftPartFunctions) --

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array.empty

  override def loadFunction(ident: Identifier): UnboundFunction =
    GraftPartFunctions.load(ident)

  override def functionExists(ident: Identifier): Boolean =
    GraftPartFunctions.exists(ident)

  /** ALTER TABLE as METADATA-ONLY commits — zero data bytes move:
    *
    *  - `ADD COLUMNS`: a fresh PHYSICAL name under the q194 column
    *    mapping, so a re-added name never resurrects a dropped column's
    *    old bytes; existing files null-fill (schema-on-read).
    *  - `RENAME COLUMN`: the parquet files keep the physical name, the
    *    logged schema carries the new logical one; reads, writes, file
    *    skipping and footer aggregates all run through the mapping.
    *  - `DROP COLUMN`: the logical schema loses the field; the physical
    *    bytes stay (unreferenced) until the next full rewrite sheds them.
    *
    * Old snapshots keep their own names forever (`VERSION AS OF`). */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val root = rootFor(ident)
    if (TimeTravel.currentVersion(root) < 0)
      throw new NoSuchTableException(ident)
    val s = SparkSession.active
    changes.foreach {
      case a: TableChange.AddColumn =>
        require(a.fieldNames().length == 1,
          "graft catalog: nested ADD COLUMN is not supported")
        requireNotReserved(a.fieldNames()(0), "ADD COLUMN")
        // `DEFAULT <literal>` (r14 verdict #3): existing rows read the
        // default, post-evolution writes store explicitly — the value
        // is rendered canonically here and recorded with the colmap
        // commit (TimeTravel.addColumnMapped)
        val dflt = Option(a.defaultValue()).map { dv =>
          val lit = dv.getValue
          require(lit != null, "graft catalog: ADD COLUMN DEFAULT must " +
            "be a foldable literal")
          require(lit.value() != null, "graft catalog: a NULL default " +
            "is the schema-on-read behavior already — omit DEFAULT")
          // the READER's supported default set (GraftLogTable.defaults)
          // is the gate: accepting any literal type here would make
          // every later scan of the table throw on an unconvertible
          // graft.default.* property (r15 ADVICE) — refuse at ALTER
          // time, where the statement is still the user's to fix
          a.dataType() match {
            case org.apache.spark.sql.types.LongType |
                 org.apache.spark.sql.types.IntegerType |
                 org.apache.spark.sql.types.DateType | // epoch-day int
                 org.apache.spark.sql.types.DoubleType |
                 org.apache.spark.sql.types.FloatType |
                 org.apache.spark.sql.types.BooleanType |
                 org.apache.spark.sql.types.StringType =>
              lit.value().toString
            case other => throw new UnsupportedOperationException(
              s"graft catalog: ADD COLUMN … DEFAULT on type $other is " +
                "not supported — defaults are readable for BIGINT, INT, " +
                "DATE, DOUBLE, FLOAT, BOOLEAN and STRING columns; add " +
                "the column without DEFAULT (null-fills) instead")
          }
        }
        TimeTravel.addColumnMapped(s, root, a.fieldNames()(0),
          a.dataType().sql, dflt)
      case r: TableChange.RenameColumn =>
        require(r.fieldNames().length == 1,
          "graft catalog: nested RENAME COLUMN is not supported")
        requireNotReserved(r.newName(), "RENAME COLUMN to")
        requireNotSpecReferenced(root, r.fieldNames()(0), "RENAME")
        TimeTravel.renameColumn(s, root, r.fieldNames()(0), r.newName())
      case d: TableChange.DeleteColumn =>
        require(d.fieldNames().length == 1,
          "graft catalog: nested DROP COLUMN is not supported")
        requireNotSpecReferenced(root, d.fieldNames()(0), "DROP")
        TimeTravel.dropColumnMapped(s, root, d.fieldNames()(0))
      // `ALTER COLUMN … TYPE` — type WIDENING only (Delta's feature):
      // metadata-only, old files keep narrow bytes, readers up-convert
      case u: TableChange.UpdateColumnType =>
        require(u.fieldNames().length == 1,
          "graft catalog: nested ALTER COLUMN is not supported")
        TimeTravel.widenColumnType(s, root, u.fieldNames()(0),
          u.newDataType().sql)
      // SQL `ALTER TABLE … SET TBLPROPERTIES`: a metadata-only commit —
      // the SQL route into graft.enableChangeDataFeed /
      // graft.enforceSchema and friends. Setting
      // `graft.partitionSpec` (or the legacy `graft.partitionCol`) here
      // is PARTITION-SPEC EVOLUTION (Iceberg's evolve-in-place): the
      // new spec governs every later INSERT's clustering + value lines
      // while files written under the old spec keep their own tags —
      // reads prune each file by ITS OWN lines (old files simply never
      // prune on new-spec predicates), and SPJ reporting already
      // degrades to per-file scans on mixed layouts. The spec string is
      // VALIDATED against the current logical schema before it lands, so
      // a typo fails the ALTER, not some later INSERT.
      case p: TableChange.SetProperty =>
        // identity columns are DECLARED AT CREATE (Delta parity: an
        // existing column cannot become GENERATED ALWAYS — its rows
        // already carry arbitrary values the mark never covered)
        if (p.property() == TimeTravel.IdentityColKey && p.value().nonEmpty)
          throw new UnsupportedOperationException(
            "graft catalog: identity columns are declared at CREATE " +
              "TABLE (TBLPROPERTIES('graft.identityCol'='…')) — an " +
              "existing column cannot become GENERATED ALWAYS")
        // and a partition spec cannot evolve ONTO an identity table
        // (the partitioned staging path does not run the identity fill)
        if ((p.property() == "graft.partitionSpec" ||
            p.property() == "graft.partitionCol") && p.value().nonEmpty)
          require(!TimeTravel.propsAsOf(root,
              TimeTravel.currentVersion(root))
              .get(TimeTravel.IdentityColKey).exists(_.nonEmpty),
            "graft catalog: cannot declare a partition spec on an " +
              "identity-column table — the partitioned staging path " +
              "does not run the identity fill")
        if (p.property() == "graft.partitionSpec" && p.value().nonEmpty)
          validateTerms(PartSpec.parse(p.value()),
            TimeTravel.schemaAsOf(root, TimeTravel.currentVersion(root))
              .getOrElse(throw new IllegalStateException(
                s"graft catalog: no logged schema under $root")))
        if (p.property() == "graft.partitionCol" && p.value().nonEmpty)
          validateTerms(Seq(IdentityTerm(p.value())),
            TimeTravel.schemaAsOf(root, TimeTravel.currentVersion(root))
              .getOrElse(throw new IllegalStateException(
                s"graft catalog: no logged schema under $root")))
        TimeTravel.setProperty(s, root, p.property(), p.value())
      case other => throw new UnsupportedOperationException(
        s"graft catalog: unsupported ALTER TABLE change $other")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val root = new Path(rootFor(ident))
    val fs = root.getFileSystem(
      SparkSession.active.sessionState.newHadoopConf())
    // a future table at the SAME path must not resolve the dropped
    // table's cached checkpoint handles (r19 review)
    TimeTravel.invalidateCkptCacheFor(rootFor(ident))
    TimeTravel.currentVersion(root.toString) >= 0 && fs.delete(root, true)
  }

  /** ALTER TABLE RENAME (r13 verdict #4): ONE filesystem rename of the
    * table directory — the commit log, data files, DV sidecars and
    * change files all travel together because every in-log reference is
    * RELATIVE to the root (absolute references are only ever to OTHER
    * tables' files — shallow clones — and stay valid). The rename is
    * atomic on HDFS and POSIX: readers resolve either the old name or
    * the new one, never both and never a half-table. History, stats,
    * constraints and time travel are untouched — the log's content
    * never mentions its own root. */
  override def renameTable(old: Identifier, to: Identifier): Unit = {
    val src = new Path(rootFor(old))
    val dst = new Path(rootFor(to))
    val fs = src.getFileSystem(
      SparkSession.active.sessionState.newHadoopConf())
    if (TimeTravel.currentVersion(src.toString) < 0)
      throw new NoSuchTableException(old)
    if (TimeTravel.currentVersion(dst.toString) >= 0 || fs.exists(dst))
      throw new TableAlreadyExistsException(Seq(catName, to.name()))
    require(fs.rename(src, dst),
      s"graft catalog: rename of ${old.name()} to ${to.name()} failed")
    // a future table at the vacated OLD path must not resolve this
    // table's cached checkpoint handles (r19 review)
    TimeTravel.invalidateCkptCacheFor(rootFor(old))
    ()
  }

  // ---- atomic CTAS / RTAS (StagingTableCatalog) -----------------------
  //
  // The log's atomic version claim IS the publish, so staging needs no
  // extra machinery: a staged CREATE's write lands data + schema as ONE
  // generation-0 commit — until that claim exists there is no log and
  // the table is invisible (`loadTable` throws). A staged REPLACE's
  // write retires the whole current snapshot in the SAME commit that
  // adds the query's rows (truncate mode) — readers see the old table or
  // the new one, never an empty or half-written in-between, and every
  // earlier generation stays readable via VERSION AS OF.

  override def stageCreate(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): StagedTable = {
    val spec = partSpecOf(partitions, schema)
    require(!ident.name().contains("@"),
      s"graft catalog: '@' addresses a branch (${ident.name()}) — " +
        "create the table first, then graft_branch")
    if (tableExists(ident)) throw new TableAlreadyExistsException(
      Seq(catName, ident.name()))
    GraftStagedTable(schema, rootFor(ident), replace = false,
      preExisting = false, partSpec = spec,
      userProps = userProps(properties, spec, schema))
  }

  override def stageReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): StagedTable = {
    val spec = partSpecOf(partitions, schema)
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    GraftStagedTable(schema, rootFor(ident), replace = true,
      preExisting = true, partSpec = spec,
      userProps = userProps(properties, spec, schema))
  }

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): StagedTable = {
    val spec = partSpecOf(partitions, schema)
    GraftStagedTable(schema, rootFor(ident), replace = true,
      preExisting = tableExists(ident), partSpec = spec,
      userProps = userProps(properties, spec, schema))
  }
}

/** A staged CTAS/RTAS target: the q193 write path in truncate mode for
  * REPLACE; `commitStagedChanges` is a no-op because the write's single
  * log claim already published atomically. Abort cleans up — the whole
  * directory for a CREATE that never existed, only the staging temps for
  * a REPLACE (the live table must survive its failed replacement). */
final case class GraftStagedTable(tableSchema: StructType, root: String,
    replace: Boolean, preExisting: Boolean,
    partSpec: Seq[PartTerm] = Nil, userProps: Seq[String] = Nil)
    extends StagedTable with SupportsWrite {

  override def name(): String = s"graft:staged:$root"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    // a partitioned CTAS/RTAS records (or a repartitioning RTAS clears)
    // the partition spec IN the same single commit its data lands as —
    // later INSERTs pick it up from the table property
    // a REPLACE clears both keys first (the old table may have carried
    // either), then the new spec's own line overrides within the same
    // commit (props lines fold in order, last write wins per key)
    val clears =
      if (replace && preExisting)
        Seq("graft.partitionCol|", "graft.partitionSpec|")
      else Nil
    val props = clears ++ (partSpec match {
      case Nil => Nil
      case Seq(IdentityTerm(c)) => Seq(s"graft.partitionCol|$c")
      case terms => Seq(s"graft.partitionSpec|${PartSpec.format(terms)}")
    }) ++ userProps // CTAS TBLPROPERTIES land in the same single commit
    val b = new CdfWriteBuilder(info.schema(), root, info.queryId(),
      Option(partSpec).filter(_.nonEmpty), createProps = props)
    if (replace && preExisting) b.truncate()
    b
  }

  override def commitStagedChanges(): Unit = ()

  override def abortStagedChanges(): Unit = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val p = new Path(if (preExisting) s"$root/stage-stream" else root)
    val fs = p.getFileSystem(conf)
    if (fs.exists(p)) fs.delete(p, true)
    ()
  }
}

/** A catalog-resolved log table: [[GraftLogTable]]'s full read surface
  * plus the q193 transactional write path, SQL `DELETE` (metadata-only
  * when the predicate is file-aligned; copy-on-write otherwise),
  * `UPDATE` and `MERGE INTO` (group-based row-level ops, see
  * [[RowLevelOps]]). `writable = false` marks a time-traveled load —
  * history is immutable, writes refuse. */
final case class CatalogLogTable(tableSchema: StructType, root: String,
    gen: Int, writable: Boolean)
    extends Table with SupportsRead with SupportsWrite
    with SupportsMetadataColumns
    with SupportsDelete with SupportsRowLevelOperations {

  // scan-side state (file set, stats, partition values) resolves lazily:
  // a pure INSERT never pays for it
  private lazy val readSide = GraftLogTable(tableSchema, root, gen)

  /** The declared partition SPEC (`CREATE TABLE … PARTITIONED BY`),
    * from the table property the create commit recorded: the legacy
    * single-identity `graft.partitionCol`, or the r14 multi-term
    * `graft.partitionSpec`; empty values are the clear marker a
    * repartitioning RTAS writes. */
  private lazy val declaredSpec: Option[Seq[PartTerm]] = {
    val props = TimeTravel.propsAsOf(root, gen)
    props.get("graft.partitionSpec").filter(_.nonEmpty)
      .map(PartSpec.parse)
      .orElse(props.get("graft.partitionCol").filter(_.nonEmpty)
        .map(c => Seq(IdentityTerm(c))))
  }

  override def name(): String = s"graft:$root@$gen"
  override def schema(): StructType = tableSchema
  override def partitioning(): Array[Transform] = declaredSpec match {
    case Some(spec) => spec.map[Transform] {
      case IdentityTerm(c) => Expressions.identity(c)
      case BucketTerm(n, c) => Expressions.bucket(n, c)
      case MonthsTerm(c) => Expressions.months(c)
      case DaysTerm(c) => Expressions.days(c)
      case YearsTerm(c) => Expressions.years(c)
    }.toArray
    case None => readSide.partitioning()
  }
  // AUTOMATIC_SCHEMA_EVOLUTION opts into Spark's
  // `MERGE … WITH SCHEMA EVOLUTION` (Delta's autoMerge): the analyzer's
  // ResolveMergeIntoSchemaEvolution diffs source vs target schema and
  // routes the adds/widenings through this catalog's alterTable —
  // the same addColumnMapped/widenColumnType machinery ALTER TABLE
  // uses, in the same statement. Without the explicit keyword the MERGE
  // still refuses unknown columns — the capability alone changes
  // nothing (schemaEvolutionEnabled requires withSchemaEvolution).
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)
  override def metadataColumns(): Array[MetadataColumn] =
    readSide.metadataColumns()

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    readSide.newScanBuilder(options)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    requireWritable()
    new CdfWriteBuilder(info.schema(), root, info.queryId(),
      declaredSpec)
  }

  private def requireWritable(): Unit = require(writable,
    s"graft catalog: snapshot $gen of $root is a time-traveled read — " +
      "history is immutable, write to the current table instead")

  /** METADATA-ONLY DELETE: legal iff the predicate cuts exactly along
    * file boundaries ([[FileSkip.aligned]] over log stats and partition
    * values — e.g. a whole partition value, or a key range covering
    * whole clustered cells). The delete is then ONE remove-only commit:
    * zero rows scanned, zero bytes rewritten, old snapshots intact —
    * Delta's partition-delete. Unaligned predicates fall to the
    * DELETION-VECTOR path when the table opts in
    * (`graft.enableDeletionVectors` TBLPROPERTY, r15 verdict #4):
    * merge-on-read masking that rewrites ZERO data files — a point
    * DELETE costs ~bytes-per-deleted-row instead of the touched files'
    * bytes, the economics that matter at 100 TB. Anything neither
    * aligned nor DV-expressible refuses here and Spark falls back to
    * the copy-on-write row-level rewrite — exactly Delta's
    * partition-delete / DV / copy-on-write split. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    writable && (alignedWhere(filters) ||
      (dvEnabled && dvRange(filters).isDefined))

  override def deleteWhere(filters: Array[Filter]): Unit = {
    requireWritable()
    if (alignedWhere(filters)) {
      val removed = FileSkip.full(readSide.files, readSide.stats,
        readSide.pvals, FileSkip.mapCols(filters.toSeq, readSide.phys))
      // CDF on: the deleted rows are exactly the removed files' live
      // contents — emit them so the row-level feed crosses the commit
      TimeTravel.commitStagedFiles(SparkSession.active, root, Nil,
        tableSchema.toDDL, removed = removed,
        cdc = TimeTravel.cdcForRemovedFiles(SparkSession.active, root, gen,
          removed))
    } else {
      val (c, lo, hi) = dvRange(filters).getOrElse(
        throw new IllegalStateException(
          "graft catalog: deleteWhere called with filters canDeleteWhere " +
            "did not accept"))
      // c arrives LOGICAL (deleteVectorWhere translates); the DV writer
      // reads the physical schema with defaults filled, so mapped
      // tables mask here
      TimeTravel.deleteVectorWhere(SparkSession.active, root, c, lo, hi)
    }
    ()
  }

  private def alignedWhere(filters: Array[Filter]): Boolean =
    FileSkip.aligned(readSide.files, readSide.stats,
      readSide.pvals, FileSkip.mapCols(filters.toSeq, readSide.phys))

  private def dvEnabled: Boolean =
    TimeTravel.propsAsOf(root, gen)
      .get("graft.enableDeletionVectors").contains("true")

  /** The single-column integral range `[lo, hi]` the ENTIRE filter set
    * (implicitly ANDed) pins down, when it does — the predicate shape
    * [[TimeTravel.deleteVectorWhere]] serves; the column stays LOGICAL —
    * the verb translates through the mapping itself, like its sibling
    * DML verbs (mapped/defaulted tables take this path too).
    * Any filter on another column or a non-range shape returns None —
    * those fall back to the delta/copy-on-write row-level ops. */
  private def dvRange(filters: Array[Filter]): Option[(String, Long, Long)] = {
    import org.apache.spark.sql.sources._
    def num(v: Any): Option[Long] = v match {
      case l: java.lang.Long => Some(l.longValue())
      case i: java.lang.Integer => Some(i.longValue())
      case _ => None
    }
    val bounds: Array[Option[(String, Long, Long)]] = filters.map {
      case EqualTo(c, v) => num(v).map(n => (c, n, n))
      case GreaterThan(c, v) =>
        num(v).filter(_ < Long.MaxValue).map(n => (c, n + 1, Long.MaxValue))
      case GreaterThanOrEqual(c, v) => num(v).map(n => (c, n, Long.MaxValue))
      case LessThan(c, v) =>
        num(v).filter(_ > Long.MinValue).map(n => (c, Long.MinValue, n - 1))
      case LessThanOrEqual(c, v) => num(v).map(n => (c, Long.MinValue, n))
      case IsNotNull(c) => Some((c, Long.MinValue, Long.MaxValue))
      case _ => None
    }
    if (bounds.isEmpty || bounds.exists(_.isEmpty)) None
    else {
      val bs = bounds.flatten
      val cols = bs.map(_._1).distinct
      val integral = cols.length == 1 &&
        tableSchema.fields.find(_.name == cols.head).map(_.dataType).exists {
          case org.apache.spark.sql.types.LongType |
               org.apache.spark.sql.types.IntegerType => true
          case _ => false
        }
      if (!integral) None
      // LOGICAL column name: deleteVectorWhere translates through the
      // mapping itself like its sibling DML verbs (r18 ADVICE — the
      // old pre-translation here made it the one physical-named verb)
      else Some((cols.head, bs.map(_._2).max, bs.map(_._3).min))
    }
  }

  /** SQL `TRUNCATE TABLE`: retire the whole current snapshot in one
    * commit — a metadata op; every prior generation stays readable. */
  override def truncateTable(): Boolean = {
    requireWritable()
    TimeTravel.commitStagedFiles(SparkSession.active, root, Nil,
      tableSchema.toDDL, removed = readSide.files,
      cdc = TimeTravel.cdcForRemovedFiles(SparkSession.active, root, gen,
        readSide.files))
    true
  }

  override def newRowLevelOperationBuilder(info: RowLevelOperationInfo)
      : RowLevelOperationBuilder = {
    requireWritable()
    new GraftRowLevelOperationBuilder(root, gen, tableSchema, info)
  }
}

/** The `tbl@branch` WRITE surface (r18 verdict #2 — Iceberg's
  * write-audit-publish in pure SQL): `INSERT INTO cat.`tbl@audit``
  * stages through the same distributed DSv2 writer as a main INSERT
  * (physical names via the BRANCH mapping), and the commit claims a
  * branch sequence number — main's generation counter never moves and
  * main readers never see the rows. The audit step reads via
  * `graft_branch_read`, the publish is `graft_ff`. Append-only by
  * design: no overwrite, truncate, or row-level ops on a branch
  * identifier (branch DML is the explicit `graft_branch_delete` /
  * `updateBranchWhere` verbs). */
final case class CatalogBranchTable(tableSchema: StructType, root: String,
    branch: String, cmap: Map[String, String], base: Int)
    extends Table with SupportsRead with SupportsWrite {
  // the AUDIT read surface (r19): the branch head through the full
  // DSv2 scan — base-keyed stats/DV/default/mapping state, branch adds
  // scanning conservatively — so `SELECT … FROM cat.`t@audit`` closes
  // the WAP loop in pure SQL (resolved lazily: a pure INSERT never
  // pays for it)
  private lazy val readSide =
    GraftLogTable(tableSchema, root, base, Some(branch))
  override def name(): String = s"graft:$root@branch=$branch"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    readSide.newScanBuilder(options)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new BranchWriteBuilder(info.schema(), root, branch, cmap,
      info.queryId())
}

/** Append-only branch write: executors stage plain parquet temps (the
  * CdfWriterFactory the main sink uses, with the branch's mapping), the
  * driver lands ONE branch commit via
  * [[TimeTravel.commitStagedToBranch]] — or, for a streaming epoch,
  * one txn-tagged branch commit per micro-batch
  * (`writeStream.toTable("cat.`t@audit`")`, the streaming half of the
  * WAP loop: ingest to the branch exactly-once, audit, publish). */
final class BranchWriteBuilder(writeSchema: StructType, root: String,
    branch: String, cmap: Map[String, String], queryId: String)
    extends WriteBuilder {
  override def build(): org.apache.spark.sql.connector.write.Write =
    new org.apache.spark.sql.connector.write.Write {
      override def toBatch
          : org.apache.spark.sql.connector.write.BatchWrite =
        new BranchBatchWrite(writeSchema, root, branch, cmap)
      override def toStreaming
          : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
        new BranchStreamingWrite(writeSchema, root, branch, cmap, queryId)
    }
}

/** One txn-tagged BRANCH commit per epoch — exactly-once by the same
  * (appId, epoch) contract as the main streaming sink, with the txn
  * record riding the branch commit file: a restart's replayed epoch
  * deletes its temps and lands nothing; after a publish the ref is
  * gone and the replay refuses loudly on the missing branch. */
final class BranchStreamingWrite(schema: StructType, root: String,
    branch: String, cmap: Map[String, String], queryId: String)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  private val confB = new org.apache.spark.util.SerializableConfiguration(
    SparkSession.active.sessionState.newHadoopConf())

  override def createStreamingWriterFactory(
      info: org.apache.spark.sql.connector.write.PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
    graft.sources.cdf.CdfWriterFactory(schema, root, confB, cmap)

  override def commit(epochId: Long,
      messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage])
      : Unit = {
    val (live, empty) = messages
      .collect { case m: graft.sources.cdf.CdfWriteMsg => m }
      .partition(_.rows > 0)
    val fs = new Path(root).getFileSystem(confB.value)
    empty.foreach(m => fs.delete(new Path(m.tmp), false))
    TimeTravel.commitStagedToBranchTxn(SparkSession.active, root, branch,
      live.map(_.tmp).toSeq,
      graft.sources.cdf.CdfParquet.nullable(schema).toDDL,
      s"cdf-branch-$queryId", epochId)
    ()
  }

  override def abort(epochId: Long,
      messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage])
      : Unit = {
    val fs = new Path(root).getFileSystem(confB.value)
    messages.collect { case m: graft.sources.cdf.CdfWriteMsg =>
      fs.delete(new Path(m.tmp), false)
    }
    ()
  }
}

final class BranchBatchWrite(schema: StructType, root: String,
    branch: String, cmap: Map[String, String])
    extends org.apache.spark.sql.connector.write.BatchWrite {
  private val confB = new org.apache.spark.util.SerializableConfiguration(
    SparkSession.active.sessionState.newHadoopConf())

  override def createBatchWriterFactory(
      info: org.apache.spark.sql.connector.write.PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.DataWriterFactory =
    graft.sources.cdf.CdfWriterFactory(schema, root, confB, cmap)

  override def commit(
      messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage])
      : Unit = {
    val (live, empty) = messages
      .collect { case m: graft.sources.cdf.CdfWriteMsg => m }
      .partition(_.rows > 0)
    val fs = new Path(root).getFileSystem(confB.value)
    empty.foreach(m => fs.delete(new Path(m.tmp), false))
    TimeTravel.commitStagedToBranch(SparkSession.active, root, branch,
      live.map(_.tmp).toSeq,
      graft.sources.cdf.CdfParquet.nullable(schema).toDDL)
    ()
  }

  override def abort(
      messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage])
      : Unit = {
    val fs = new Path(root).getFileSystem(confB.value)
    messages.collect { case m: graft.sources.cdf.CdfWriteMsg =>
      fs.delete(new Path(m.tmp), false)
    }
    ()
  }
}
