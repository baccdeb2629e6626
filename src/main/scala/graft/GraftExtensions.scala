package graft

import graft.functions.{DotProductDouble, Md5HashArray, MinHashSignature, SimHash64, WordNgrams}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SQL surface for the custom codegen expressions — so `spark.sql` users
  * get the same fused operators the DataFrame API exposes through
  * graft.functions:
  *
  *   graft_dot(a, b)          double dot product over float/double arrays
  *   graft_minhash64(hs)      64-minima MinHash signature of hashed shingles
  *   graft_simhash64(th)      64-bit SimHash of hashed tokens
  *   graft_word_ngrams(t, n)  distinct word n-grams (short → distinct tokens)
  *   graft_md5hash60(arr)     md5-derived 60-bit hash per element
  *
  * Two registration paths: `GraftFunctions.register(spark)` on a live
  * session, or `spark.sql.extensions=graft.GraftExtensions` at session
  * build time (the SparkSessionExtensions route a cluster would use).
  */
object GraftFunctions {
  val all: Seq[(String, Seq[Expression] => Expression, String)] = Seq(
    ("graft_dot", es => DotProductDouble(es(0), es(1)),
      "graft_dot(a, b) - ordered double-accumulated dot product"),
    ("graft_minhash64", es => MinHashSignature(es.head),
      "graft_minhash64(hashed_shingles) - 64-long MinHash signature"),
    ("graft_simhash64", es => SimHash64(es.head),
      "graft_simhash64(hashed_tokens) - 64-bit SimHash"),
    ("graft_word_ngrams", es => WordNgrams(es(0),
      es(1) match { case Literal(n: Int, _) => n
                    case e => sys.error(s"n must be an int literal, got $e") },
      shortFallback = true),
      "graft_word_ngrams(tokens, n) - distinct word n-grams"),
    ("graft_md5hash60", es => Md5HashArray(es.head, 0L),
      "graft_md5hash60(arr) - md5-derived 60-bit hash of each element"))

  /** Table-valued functions — the FROM-position SQL surface of the
    * commit-log reads (r12 verdict #7):
    *
    *   graft_asof(root, gen)          snapshot AS OF generation gen
    *   graft_changes(root, from, to)  rows commits (from, to] added
    */
  val tableFns: Seq[(String,
      Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      String)] = Seq(
    ("graft_asof", graft.operators.TimeTravel.asOfPlan _,
      "graft_asof(root, gen) - snapshot of a graft commit-log table AS OF generation gen"),
    ("graft_changes", graft.operators.TimeTravel.changesPlan _,
      "graft_changes(root, from, to) - rows added by commits (from, to]"),
    ("graft_history", graft.operators.TimeTravel.historyPlan _,
      "graft_history(root) - one row per commit: version, in-commit " +
        "timestamp (epoch millis), file counts, rows added, flags"),
    ("graft_asof_ts", graft.operators.TimeTravel.asOfTsPlan _,
      "graft_asof_ts(root, tsMillis) - snapshot AS OF a commit timestamp"),
    ("graft_row_changes", graft.operators.TimeTravel.rowChangesPlan _,
      "graft_row_changes(root, from, to) - row-level change feed with " +
        "_change_type/_commit_version over commits (from, to]"),
    ("graft_row_changes_ts", graft.operators.TimeTravel.rowChangesTsPlan _,
      "graft_row_changes_ts(root, t0Millis, t1Millis) - the row-level " +
        "change feed time-bounded: both bounds resolve to generations " +
        "via in-commit timestamps (the TIMESTAMP AS OF machinery)"),
    // maintenance verbs (r13 verdict #3): the builder resolves at
    // analysis, but the op itself runs at EXECUTION (lazy
    // MaintenanceNode — EXPLAIN and schema probes are side-effect-free,
    // r14 ADVICE); the returned row reports what it did (Delta's
    // OPTIMIZE/VACUUM statements execute-and-report the same way)
    ("graft_optimize", graft.operators.TimeTravel.optimizePlan _,
      "graft_optimize(root, targetFiles) - bin-pack the snapshot into a " +
        "nodata commit; returns (version, files_before, files_after)"),
    ("graft_zorder", graft.operators.TimeTravel.zorderPlan _,
      "graft_zorder(root, c1, c2, nFiles) - OPTIMIZE ZORDER BY from SQL; " +
        "returns (version, files_after)"),
    ("graft_vacuum", graft.operators.TimeTravel.vacuumPlan _,
      "graft_vacuum(root[, graceMins]) - delete unreferenced files older " +
        "than the grace window; returns n_deleted"),
    ("graft_expire_ts", graft.operators.TimeTravel.expireTsPlan _,
      "graft_expire_ts(root, tsMillis) - retention by wall-clock time: " +
        "drop commits below the generation in force at tsMillis; " +
        "returns (keep_from, n_dropped)"),
    ("graft_expire", graft.operators.TimeTravel.expirePlan _,
      "graft_expire(root, keepFrom) - retention: drop commits below " +
        "keepFrom (needs an anchor checkpoint); returns n_dropped"),
    ("graft_reorg", graft.operators.TimeTravel.reorgPlan _,
      "graft_reorg(root, minMaskedPct) - REORG APPLY PURGE: rewrite only " +
        "the files whose deletion-vector mask covers >= minMaskedPct% of " +
        "their rows; returns (version, files_purged)"),
    ("graft_restore", graft.operators.TimeTravel.restorePlan _,
      "graft_restore(root, toGen) - metadata-only rollback to a prior " +
        "generation as a new commit (runs at execution, idempotent); " +
        "returns (version, restored_gen, files_readded, files_retired)"),
    ("graft_files", graft.operators.TimeTravel.filesPlan _,
      "graft_files(root) - one row per current-snapshot file: bytes, " +
        "logged rows, live DV rows, partition value lines, stat coverage"),
    ("graft_clone", graft.operators.TimeTravel.clonePlan _,
      "graft_clone(src, dst) - zero-copy shallow clone (runs at " +
        "execution); returns (version, n_files)"),
    ("graft_tag", graft.operators.TimeTravel.tagPlan _,
      "graft_tag(root, name, gen) - tag a generation with a name " +
        "(Iceberg's createTag); the tag resolves in VERSION AS OF and " +
        "graft_asof, and pins its generation against graft_expire"),
    ("graft_tag_drop", graft.operators.TimeTravel.tagDropPlan _,
      "graft_tag_drop(root, name) - drop a snapshot tag (releases its " +
        "retention pin); idempotent"),
    ("graft_tags", graft.operators.TimeTravel.tagsPlan _,
      "graft_tags(root) - one row per live snapshot tag: name, " +
        "generation"),
    ("graft_partitions", graft.operators.TimeTravel.partitionsPlan _,
      "graft_partitions(root) - one row per tagged partition value " +
        "group: lines, file count, logged live rows, masked rows " +
        "(commit-log metadata only)"),
    ("graft_optimize_where", graft.operators.TimeTravel.optimizeWherePlan _,
      "graft_optimize_where(root, partCol, value, targetFiles) - " +
        "partition-scoped OPTIMIZE: bin-pack only the matching value " +
        "groups, value lines carried; returns (version, files_before, " +
        "files_after)"),
    ("graft_vacuum_dry", graft.operators.TimeTravel.vacuumDryPlan _,
      "graft_vacuum_dry(root[, graceMins]) - VACUUM DRY RUN: one row " +
        "per file a vacuum would reclaim; deletes nothing"),
    ("graft_restore_ts", graft.operators.TimeTravel.restoreTsPlan _,
      "graft_restore_ts(root, tsMillis) - RESTORE to the generation in " +
        "force at the instant (metadata-only rollback, lazy); returns " +
        "(version, restored_gen, files_readded, files_retired)"),
    ("graft_clone_deep", graft.operators.TimeTravel.cloneDeepPlan _,
      "graft_clone_deep(src, dst) - retention-independent deep clone: " +
        "distributed byte copy of the snapshot's files + DV sidecars, " +
        "all log metadata re-keyed (runs at execution); returns " +
        "(version, n_files)"),
    ("graft_branch", graft.operators.TimeTravel.branchPlan _,
      "graft_branch(root, name, gen) - create a writable branch at a " +
        "generation (Iceberg's createBranch); branch commits are " +
        "invisible to main until graft_ff publishes them"),
    ("graft_branch_drop", graft.operators.TimeTravel.branchDropPlan _,
      "graft_branch_drop(root, name) - drop a branch: clears the ref, " +
        "deletes its staged commits (releases the retention pin)"),
    ("graft_branches", graft.operators.TimeTravel.branchesPlan _,
      "graft_branches(root) - one row per live branch: name, base " +
        "generation, staged commit count"),
    ("graft_branch_read", graft.operators.TimeTravel.branchReadPlan _,
      "graft_branch_read(root, name) - the branch HEAD in FROM " +
        "position: the base snapshot plus the branch's staged commits"),
    ("graft_ff", graft.operators.TimeTravel.ffPlan _,
      "graft_ff(root, name) - fast-forward publish: land the branch's " +
        "delta on main as one atomic version-pinned commit and drop " +
        "the ref; refuses when main moved past the base"),
    ("graft_cherrypick", graft.operators.TimeTravel.cherryPickPlan _,
      "graft_cherrypick(root, name, k) - apply ONE append-only branch " +
        "commit onto the CURRENT main head (the partial publish when " +
        "fast-forward refuses); re-validates constraints, refuses " +
        "double-picks; zero data bytes move"),
    ("graft_rebase", graft.operators.TimeTravel.rebasePlan _,
      "graft_rebase(root, name) - land EVERY unpicked append-only " +
        "branch commit on the current main head, in order, exactly " +
        "once (the cherry-pick loop as one verb); refuses " +
        "remove-carrying branches"),
    ("graft_branch_delete", graft.operators.TimeTravel.branchDeletePlan _,
      "graft_branch_delete(root, name, col, lo, hi) - row-level DELETE " +
        "on a branch head (copy-on-write, branch view only); main " +
        "never sees it until graft_ff publishes"),
    ("graft_analyze", graft.operators.TimeTravel.analyzePlan _,
      "graft_analyze(root, 'c1,c2') - record per-file column-NDV HLL " +
        "sketches in the log (ANALYZE TABLE ... FOR COLUMNS); scans " +
        "union the surviving files' sketches into DSv2 column stats " +
        "for CBO join estimation"))

  def register(spark: SparkSession): Unit = {
    all.foreach { case (name, builder, _) =>
      org.apache.spark.sql.graft.ColumnBridge.registerFunction(spark, name, builder)
    }
    tableFns.foreach { case (name, builder, _) =>
      org.apache.spark.sql.graft.ColumnBridge
        .registerTableFunction(spark, name, builder)
    }
  }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, builder, usage) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name, usage), builder))
    }
    GraftFunctions.tableFns.foreach { case (name, builder, usage) =>
      e.injectTableFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.operators", name, usage), builder))
    }
    // Whole-operator plans (graft.plans): sessions built with
    // spark.sql.extensions=graft.GraftExtensions plan KnnTopKNode without
    // touching the experimental-methods API.
    e.injectPlannerStrategy(_ => graft.plans.KnnStrategy)
    // Maintenance TVFs plan lazily (side effects gated on execution —
    // r14 ADVICE): the strategy that plans their report nodes.
    e.injectPlannerStrategy(_ => graft.plans.MaintenanceStrategy)
    // Opt-in accelerator rule: count(DISTINCT x) → HLL sketch when
    // spark.graft.approxDistinct.enabled=true (see ApproxDistinctRewrite).
    e.injectOptimizerRule(_ => graft.plans.ApproxDistinctRewrite)
    // Global aggregates mixing DISTINCT and HLL++: split them and keep the
    // HLL++ registers in one object buffer (GlobalSketchAggregates).
    e.injectOptimizerRule(_ => graft.plans.GlobalSketchAggregates)
  }
}
