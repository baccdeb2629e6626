package graft.operators

import graft.{Q, QueryModule, Tables, WorkDirs}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Snapshot isolation / time travel over a plain parquet layout (r11
  * verdict #4) — the table-format read-path idea (Delta/Iceberg's commit
  * log) as a library op, no new file format:
  *
  * {{{
  *   <root>/data/<uuid>-part-*.parquet   committed data files (never listed)
  *   <root>/_graft_log/<N>.json          one commit per generation N
  * }}}
  *
  * A commit records the files it ADDED and the files it logically REMOVED
  * (compaction/overwrite); a snapshot AS OF generation N is the fold of
  * commits 0..N (adds minus removes). Readers resolve the file set from
  * the LOG ONLY — `readAsOf` never lists the data directory, so a
  * half-written or orphaned file is invisible until the commit that
  * references it lands (q157 plants such an orphan to prove it).
  *
  * Concurrency is Delta's optimistic protocol: data files land first under
  * collision-free names, then the commit claims the next version number by
  * an atomic no-replace rename of `<N>.json`; the loser of a race re-reads
  * the log and retries at N+1 — data files are immutable so the retry is
  * metadata-only. `vacuum` deletes data files no commit references.
  *
  * At 100 TB: reads cost one metadata listing of `_graft_log` (O(commits),
  * a few KB each) + a parquet scan of exactly the snapshot's files —
  * history depth never inflates the data scan, appends never rewrite live
  * files, and AS-OF reads of old generations stay correct while new
  * commits land. The e-commerce shape this serves: the reference's
  * warehouse feed (SURVEY O20/O21) replayed "as of last night's load" for
  * reconciliation, on the same files the current load reads.
  *
  * Reference: Javier009/eCommerce_Data_Pipeline stages generation-
  * versioned loads (send_data_to_*.py re-runs); this is the read-side
  * discipline those re-runs need.
  */
object TimeTravel extends QueryModule {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.table(s, dir, n)

  private def logDir(root: String) = s"$root/_graft_log"

  /** Physical path of a committed data file. Names are normally relative
    * to `<root>/data`; a SHALLOW CLONE's commit references its source's
    * files by ABSOLUTE path (the clone copies metadata, never data), so
    * absolute references resolve as-is. */
  private[graft] def dataPath(root: String, f: String): String =
    if (f.startsWith("/") || f.contains("://")) f else s"$root/data/$f"

  /** Per-root JVM lock serializing same-JVM committers' read-validate-
    * claim sequences; cross-JVM exclusion is [[claimVersion]]'s
    * no-replace claim. */
  private val rootLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(root: String): Object =
    rootLocks.computeIfAbsent(root, _ => new Object)

  /** The Hadoop conf the table format's IO resolves once per session (the
    * session's fs.* settings at first use; defaults outside a session),
    * and the [[LocalFileSystem]] it serves `file:` roots with. */
  private final class TableIo(val conf: org.apache.hadoop.conf.Configuration) {
    val local: org.apache.hadoop.fs.FileSystem = {
      val fs = new LocalFileSystem
      fs.initialize(java.net.URI.create("file:///"), conf)
      fs
    }
  }
  private val sessionIo = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, TableIo]())
  private lazy val defaultIo =
    new TableIo(new org.apache.hadoop.conf.Configuration())

  /** All IO goes through the Hadoop `FileSystem` API: a commit log is
    * only a table format if it works on the filesystems tables live on —
    * HDFS, object stores via their Hadoop connectors, or `file:/`.
    * `file:` paths get the session's [[LocalFileSystem]], which starts no
    * process; other schemes come from Hadoop's cache under the session's
    * conf. */
  private def fsFor(path: String): (org.apache.hadoop.fs.FileSystem,
      org.apache.hadoop.fs.Path) = {
    val io = SparkSession.getActiveSession.fold(defaultIo)(s =>
      sessionIo.computeIfAbsent(s, _ => new TableIo(s.sessionState.newHadoopConf())))
    val p = new org.apache.hadoop.fs.Path(path)
    val scheme = Option(p.toUri.getScheme).getOrElse(
      org.apache.hadoop.fs.FileSystem.getDefaultUri(io.conf).getScheme)
    (if (scheme == "file") io.local else p.getFileSystem(io.conf), p)
  }

  /** The Hadoop settings that map `file:` to [[LocalFileSystem]] outside
    * Hadoop's cache, for the table's writes that run in Spark tasks. */
  private val LocalFsConf = Map(
    "fs.file.impl" -> classOf[LocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** `w` with [[LocalFsConf]] in its Hadoop conf, for this one write only:
    * Spark's parquet writer tasks and its commit protocol then start no
    * process either. The session, its conf and the cached filesystems
    * stay untouched. */
  private def tableWriter[T](w: org.apache.spark.sql.DataFrameWriter[T])
      : org.apache.spark.sql.DataFrameWriter[T] = w.options(LocalFsConf)

  /** The session's Hadoop conf plus [[LocalFsConf]], for tasks that write
    * table files themselves. */
  private def taskConf(s: SparkSession)
      : org.apache.spark.util.SerializableConfiguration = {
    val c = s.sessionState.newHadoopConf()
    LocalFsConf.foreach { case (k, v) => c.set(k, v) }
    new org.apache.spark.util.SerializableConfiguration(c)
  }

  private def readBytes(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): String = {
    val in = fs.open(p)
    try {
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
      new String(bos.toByteArray, "UTF-8")
    } finally in.close()
  }

  private def writeBytes(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, txt: String): Unit = {
    val out = fs.create(p, true)
    try out.write(txt.getBytes("UTF-8")) finally out.close()
  }

  private val CommitName = """(\d+)\.json""".r
  private val CkptName = """(\d+)\.ckpt\.json""".r

  /** Auto-checkpoint cadence: every Nth generation writes its resolved
    * checkpoint in the committing writer (Delta's checkpointInterval). */
  val AutoCheckpointEvery = 10

  /** `_graft_log` listings and commit-file reads made in this JVM — the
    * metadata cost of a call, as specs observe it. */
  private[graft] val logListings = new java.util.concurrent.atomic.AtomicLong
  private[graft] val commitReads = new java.util.concurrent.atomic.AtomicLong

  /** The text of the commit file `f`. */
  private def commitText(fs: org.apache.hadoop.fs.FileSystem,
      f: org.apache.hadoop.fs.Path): String = {
    commitReads.incrementAndGet()
    readBytes(fs, f)
  }

  /** Log-dir listing by NAME only — version discovery costs a listing,
    * never a content read. Returns (commits, checkpoints), each sorted. */
  private def listLog(root: String): (org.apache.hadoop.fs.FileSystem,
      Seq[(Int, org.apache.hadoop.fs.Path)],
      Seq[(Int, org.apache.hadoop.fs.Path)]) = {
    logListings.incrementAndGet()
    val (fs, d) = fsFor(logDir(root))
    val names =
      if (!fs.exists(d)) Array.empty[org.apache.hadoop.fs.Path]
      else fs.listStatus(d).map(_.getPath)
    val commits = names.flatMap(f => f.getName match {
      case CommitName(v) => Some((v.toInt, f)); case _ => None
    }).sortBy(_._1).toSeq
    val ckpts = names.flatMap(f => f.getName match {
      case CkptName(v) => Some((v.toInt, f)); case _ => None
    }).sortBy(_._1).toSeq
    (fs, commits, ckpts)
  }

  /** Minimal string-array JSON parser: walks the array char-by-char
    * respecting quoting and `\`-escapes, so a file name containing `]`,
    * `,` or an escaped quote parses correctly, and richer commit metadata
    * added later cannot derail the scan (the regex + first-`]` version
    * was a fragile seam — r12 verdict #8). */
  private def parseArr(txt: String, key: String): Seq[String] = {
    val marker = s""""$key":"""
    val i = txt.indexOf(marker)
    if (i < 0) return Nil
    var j = i + marker.length
    while (j < txt.length && txt.charAt(j).isWhitespace) j += 1
    if (j >= txt.length || txt.charAt(j) != '[') return Nil
    j += 1
    val out = scala.collection.mutable.ArrayBuffer[String]()
    val sb = new StringBuilder
    var inStr = false
    var esc = false
    while (j < txt.length) {
      val c = txt.charAt(j)
      if (inStr) {
        if (esc) {
          sb.append(c match {
            case 'n' => '\n'; case 't' => '\t'; case 'r' => '\r'
            case other => other // covers \" \\ \/ — literal char
          })
          esc = false
        } else if (c == '\\') esc = true
        else if (c == '"') { out += sb.toString; sb.clear(); inStr = false }
        else sb.append(c)
      } else c match {
        case '"' => inStr = true
        case ']' => return out.toSeq
        case _ => // commas / whitespace between elements
      }
      j += 1
    }
    out.toSeq
  }

  // ---- checkpoint format (r19: multi-part parquet + cached heads) ----

  /** Reader feature recorded by parquet-format checkpoints: a pre-r19
    * build parsing the manifest would find no inline `files` array and
    * silently resolve an EMPTY snapshot — the feature gate turns that
    * into the loud protocol refusal instead. Stripped from the
    * table-level feature fold (it marks the checkpoint FILE's format,
    * not a property of the data). */
  private[graft] val CkptParquetFeature = "ckpt-parquet"

  /** The per-FILE metadata arrays a checkpoint resolves — the O(files)
    * payload that moves to parquet sidecar parts in the r19 format.
    * Small table-level arrays (constraints, props, colmap, txn,
    * schemav, features, wfeatures) stay inline in the JSON manifest. */
  private val CkptFileKeys =
    Set("files", "dvs", "stats", "blooms", "nrows", "ndvs")

  /** Checkpoint keys whose parquet rows carry their payload in the
    * BINARY column (sketch bytes) with the `|`-joined header in `line`;
    * readers reconstruct the legacy base64 line form on demand. */
  private val CkptBinaryKeys = Set("blooms", "ndvs")

  /** File-level line count at/above which [[checkpoint]] writes the
    * parquet multi-part format; below it the legacy single-JSON blob is
    * smaller AND cheaper (no Spark job per checkpoint). A var so specs
    * force the parquet path on fixture-sized tables. */
  @volatile private[graft] var CkptParquetMinLines: Int = 4096

  /** Target rows per parquet checkpoint part — at 10⁶ files the
    * checkpoint lands as ~10–60 parts written by a distributed job,
    * never one driver-assembled blob (Delta's multi-part checkpoints).
    * A var so the files-per-part spec exercises multi-part layouts at
    * fixture scale. */
  @volatile private[graft] var CkptRowsPerPart: Int = 100000

  private def ckptPartsDir(root: String, v: Int) =
    s"${logDir(root)}/$v.ckpt.parquet"

  private val CkptPartSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("k",
      org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("line",
      org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("bin",
      org.apache.spark.sql.types.BinaryType, nullable = true)))

  /** One PARSED checkpoint, format-agnostic and immutable — cached per
    * manifest path so every snapshot resolution / metadata fold after
    * the first reuses it instead of re-reading and re-parsing the blob
    * on the driver (r18 verdict: the re-parse sat under every cold
    * read). Legacy checkpoints parse the inline arrays lazily per key;
    * parquet checkpoints read each file-level key as one column-pruned,
    * predicate-pushed Spark scan of the sidecar parts (blooms decode
    * only when the blooms fold actually runs — they never ride the
    * resolution hot path). */
  private final class CkptHandle(val root: String, val version: Int,
      val manifestTxt: String) {
    private val memo =
      new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()
    val isParquet: Boolean =
      parseArr(manifestTxt, "format").contains("parquet")
    /** Legacy back-fill probe: a checkpoint written before `key`
      * existed must not shadow the commits below it. Parquet manifests
      * always carry the full resolved state — present-and-empty IS the
      * truth, so every key counts as present. */
    def has(key: String): Boolean =
      isParquet || manifestTxt.contains(s""""$key":""")
    def lines(key: String): Seq[String] =
      memo.computeIfAbsent(key, k =>
        if (k == "features")
          // table-level features only — the format marker gates the
          // checkpoint file itself, not the data
          parseArr(manifestTxt, k).filterNot(_ == CkptParquetFeature)
        else if (!isParquet || !CkptFileKeys(k)) parseArr(manifestTxt, k)
        else {
          val s = SparkSession.getActiveSession.getOrElse(
            throw new IllegalStateException(
              s"time travel: checkpoint $version of $root is " +
                "parquet-format — resolving it requires an active " +
                "SparkSession (start one, or keep small tables on the " +
                "legacy JSON format)"))
          val df = s.read.schema(CkptPartSchema)
            .parquet(ckptPartsDir(root, version))
            .filter(col("k") === k)
          if (CkptBinaryKeys(k))
            df.select(col("line"), col("bin")).collect().toSeq.map { r =>
              r.getString(0) + "|" + java.util.Base64.getEncoder
                .encodeToString(r.getAs[Array[Byte]](1))
            }
          else df.select(col("line")).collect().toSeq.map(_.getString(0))
        })
  }

  /** Checkpoint-handle cache, keyed by manifest path. Checkpoints are
    * content-immutable (a pure function of the log — racing
    * checkpointers produce logically identical bytes), so entries never
    * invalidate; LRU-bounded so a long-lived session over many tables
    * stays flat. A FRESH reader process always gates its first load —
    * the cache only ever short-circuits content this process already
    * gated (the protocol-gate spec clears it to simulate that fresh
    * reader against a forged file). */
  private[graft] def invalidateCkptCache(): Unit = ckptCache.clear()

  /** Drop the cached handles under `root` — DROP TABLE / RENAME free
    * the PATH for a future table whose checkpoints would otherwise be
    * served from the dropped table's cached state (r19 review). */
  private[graft] def invalidateCkptCacheFor(root: String): Unit =
    ckptCache.synchronized {
      // path-separator boundary (r19 ADVICE): keys are checkpoint FILE
      // paths under <root>/_graft_log/, so `root + "/"` is the exact
      // prefix — a bare contains(root) would also evict a sibling table
      // whose path merely starts with this root's characters (/wh/t vs
      // /wh/t2). Keys may carry a scheme (file:/...) the caller's root
      // lacks, hence contains, not startsWith.
      val boundary = (if (root.endsWith("/")) root else root + "/")
      val it = ckptCache.keySet().iterator()
      while (it.hasNext) {
        val k = it.next()
        if (k.contains(boundary)) it.remove()
      }
    }

  private val ckptCache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, CkptHandle](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, CkptHandle]): Boolean =
          size() > 48
      })

  /** Resolve (and cache) the checkpoint at `p`; the protocol gate runs
    * once at first load — every fold that resolves through a checkpoint
    * passes it, not just snapshot resolution. */
  private def ckptHandle(fs: org.apache.hadoop.fs.FileSystem, root: String,
      v: Int, p: org.apache.hadoop.fs.Path): CkptHandle = {
    val key = p.toString
    val cached = ckptCache.get(key)
    if (cached != null) cached
    else {
      val txt = readBytes(fs, p)
      requireFeaturesReadable(txt, s"checkpoint $v of $root")
      val h = new CkptHandle(root, v, txt)
      ckptCache.put(key, h)
      h
    }
  }

  /** One resolution of generation `gen` of `root`: one listing of
    * `_graft_log`, the newest checkpoint ≤ gen as the base, and each
    * commit file read at most once. Every per-version reader is a view
    * over it, so a caller that needs several answers about one version
    * takes one snapshot. Every key folds lazily — a parquet
    * checkpoint's file-level key is scanned only when its fold is asked
    * for. A snapshot lives for one call chain; nothing is cached across
    * calls. [[at]] re-bases the same listing and commit texts on
    * another generation. */
  private[graft] final class Snapshot(val root: String,
      val fs: org.apache.hadoop.fs.FileSystem,
      val commits: Seq[(Int, org.apache.hadoop.fs.Path)],
      val ckpts: Seq[(Int, org.apache.hadoop.fs.Path)], val gen: Int,
      texts: java.util.concurrent.ConcurrentHashMap[Integer, String]) {
    private val base = ckpts.filter(_._1 <= gen).lastOption
    private val baseV = base.fold(-1)(_._1)
    private lazy val ckpt =
      base.map { case (v, f) => ckptHandle(fs, root, v, f) }
    /** The tail commits (base, gen] the fold reads past the checkpoint. */
    val tail: Seq[(Int, org.apache.hadoop.fs.Path)] =
      commits.filter(c => c._1 > baseV && c._1 <= gen)

    def at(g: Int): Snapshot =
      if (g == gen) this else new Snapshot(root, fs, commits, ckpts, g, texts)

    def text(v: Int, f: org.apache.hadoop.fs.Path): String =
      texts.computeIfAbsent(v, _ => commitText(fs, f))

    /** `key`'s lines, each with the generation it comes from: the
      * checkpoint's resolved lines, then the tail commits'. A checkpoint
      * written before `key` existed carries no such array and must not
      * shadow the commits below it (a lost txn record would let a
      * restarted streaming writer replay a committed epoch), so those
      * commits back-fill it. */
    def lines(key: String): Seq[(Int, String)] = {
      def of(cs: Seq[(Int, org.apache.hadoop.fs.Path)]) =
        cs.flatMap { case (v, f) => parseArr(text(v, f), key).map(v -> _) }
      (ckpt match {
        case Some(h) if h.has(key) => h.lines(key).map(baseV -> _)
        case Some(_) => of(commits.filter(_._1 <= baseV))
        case None => Nil
      }) ++ of(tail)
    }

    private def fold[T](key: String, empty: T)(f: (T, String) => T): T =
      lines(key).foldLeft(empty) { case (acc, (_, l)) => f(acc, l) }

    /** A line no reader may skip, refused loudly. */
    private def torn(key: String, at: Int, line: String, want: String) =
      new IllegalStateException(s"time travel: malformed $key line " +
        s"'$line' in generation $at of $root — expected '$want'")

    /** The file set — the one fold that passes every tail commit through
      * the reader-feature gate. */
    lazy val files: Seq[String] = {
      require(commits.exists(_._1 == gen),
        s"time travel: generation $gen does not exist under $root " +
          s"(latest: ${commits.lastOption.map(_._1).getOrElse(-1)})")
      tail.foldLeft(ckpt.fold(Seq.empty[String])(_.lines("files"))) {
        case (acc, (v, f)) =>
          val txt = text(v, f)
          requireFeaturesReadable(txt, s"commit $v of $root")
          val rm = parseArr(txt, "removed").toSet
          acc.filterNot(rm) ++ parseArr(txt, "added")
      }
    }

    /** Reader features required at `gen`, cumulative. */
    lazy val features: Set[String] = lines("features").map(_._2).toSet
    lazy val writerFeatures: Set[String] = lines("wfeatures").map(_._2).toSet

    /** `key|value` lines, last write per key winning. */
    lazy val props: Map[String, String] = fold("props", Map.empty[String, String]) {
      (m, line) =>
        val i = line.indexOf('|')
        if (i < 0) m else m.updated(line.substring(0, i), line.substring(i + 1))
    }

    private def propsUnder(prefix: String) = props.collect {
      case (k, v) if k.startsWith(prefix) && v.nonEmpty => k.stripPrefix(prefix) -> v
    }
    lazy val cdf: Boolean = props.get("graft.enableChangeDataFeed").contains("true")
    /** Rendered column defaults keyed by PHYSICAL name, the
      * `graft.default.<phys>` properties [[addColumnMapped]] records. */
    lazy val defaults: Map[String, String] = propsUnder("graft.default.")
    /** PHYSICAL names of type-widened columns — the footer-aggregate
      * refusal set (old footers' statistics are narrow-typed). */
    lazy val widened: Set[String] = propsUnder("graft.widened.").keySet
    lazy val tags: Map[String, Int] = propsUnder("graft.tag.").map(e => e._1 -> e._2.toInt)
    lazy val branches: Map[String, Int] =
      propsUnder("graft.branch.").map(e => e._1 -> e._2.toInt)

    /** (name, sql) pairs; a re-add under the same name replaces, the
      * clear marker (`name|-`) drops. */
    lazy val constraints: Seq[(String, String)] =
      fold("constraints", Vector.empty[(String, String)]) { (acc, line) =>
        val i = line.indexOf('|') // the expr may itself contain '|' (OR)
        if (i < 0) acc
        else {
          val (n, e) = (line.substring(0, i), line.substring(i + 1))
          if (e == "-") acc.filterNot(_._1 == n)
          else acc.filterNot(_._1 == n) :+ ((n, e))
        }
      }

    /** `logical|physical` lines, `logical|-` clearing one. */
    lazy val colmap: Map[String, String] = fold("colmap", Map.empty[String, String]) {
      (m, line) => line.split('|') match {
        case Array(l, "-") => m - l
        case Array(l, p) => m.updated(l, p)
        case _ => m
      }
    }

    /** file → (sidecar name, cardinality); the clear marker (`file|-|0`,
      * written by restore) drops one. */
    lazy val dvs: Map[String, (String, Long)] =
      lines("dvs").foldLeft(Map.empty[String, (String, Long)]) { case (m, (at, line)) =>
        line.split('|') match {
          case Array(fn, "-", _) => m - fn
          case Array(fn, dv, card) if card.toLongOption.nonEmpty =>
            m.updated(fn, (dv, card.toLong))
          // read as "no vector", a torn line would resurrect masked rows
          case _ => throw torn("dvs", at, line, "<file>|<vector>|<cardinality>")
        }
      }

    /** The newest logged schema: the tail's newest, else the
      * checkpoint's, else the commits' below it. */
    lazy val schema: Option[org.apache.spark.sql.types.StructType] =
      lines("schemav").lastOption.map(l =>
        org.apache.spark.sql.types.StructType.fromDDL(l._2))

    /** Per-file (col, min, max) of long-valued columns. */
    lazy val stats: Map[(String, String), (Long, Long)] =
      fold("stats", Map.empty[(String, String), (Long, Long)]) { (m, line) =>
        line.split('|') match {
          case Array(name, c, lo, hi) =>
            try m.updated((name, c), (lo.toLong, hi.toLong))
            catch { case _: NumberFormatException => m }
          case _ => m
        }
      }

    /** The TAGGED value lines in log order: ((file, col), (tag, value))
      * for identity `=`, generated `~month`/`~day`/`~year` and
      * `#bucket:n` lines. Plain min/max lines never collide: their third
      * field is a number, not a tag. */
    private lazy val tagged: Seq[((String, String), (String, String))] =
      lines("stats").flatMap(_._2.split('|') match {
        case Array(name, c, tag, v)
            if tag == "=" || tag.startsWith("~") || tag.startsWith("#bucket:") =>
          Some(((name, c), (tag, v)))
        case _ => None
      })
    lazy val tvals: Map[(String, String), (String, String)] = tagged.toMap
    private def valsTagged(tag: String) = tagged.collect {
      case ((f, c), (`tag`, v)) => f -> ((c, v))
    }.toMap
    lazy val pvals: Map[String, (String, String)] = valsTagged("=")
    /** The generated `~month` values [[commitPartitionedGeneratedMonth]]
      * records. */
    lazy val gvals: Map[String, (String, String)] = valsTagged("~month")

    /** appId → newest txn version. */
    lazy val txns: Map[String, Long] =
      lines("txn").foldLeft(Map.empty[String, Long]) { case (m, (at, line)) =>
        line.split("\\|", -1) match {
          case Array(a, v) if v.toLongOption.nonEmpty =>
            val ver = v.toLong
            if (m.get(a).forall(_ < ver)) m.updated(a, ver) else m
          // read as "no entry", a torn line would let commitTxn land an
          // epoch that is already committed
          case _ => throw torn("txn", at, line, "<appId>|<version>")
        }
      }

    lazy val nrows: Map[String, Long] =
      lines("nrows").foldLeft(Map.empty[String, Long]) { case (m, (at, line)) =>
        line.split('|') match {
          case Array(name, n) if n.toLongOption.nonEmpty => m.updated(name, n.toLong)
          case _ => throw torn("nrows", at, line, "<file>|<rows>")
        }
      }

    lazy val blooms: Map[String, (String, Int, Int, Array[Byte])] =
      fold("blooms", Map.empty[String, (String, Int, Int, Array[Byte])]) { (acc, line) =>
        line.split('|') match {
          case Array(name, c, m, k, b64) =>
            try acc.updated(name, (c, m.toInt, k.toInt,
              java.util.Base64.getDecoder.decode(b64)))
            catch { case _: IllegalArgumentException => acc }
          case _ => acc
        }
      }

    lazy val ndvs: Map[(String, String), String] =
      fold("ndvs", Map.empty[(String, String), String]) { (m, line) =>
        line.split('|') match {
          case Array(f, c, b64) => m.updated((f, c), b64)
          case _ => m
        }
      }
  }

  /** Resolve generation `gen` of `root`. */
  private[graft] def snapshot(root: String, gen: Int): Snapshot =
    resolve(root, _ => gen)

  /** Resolve the latest generation of `root` (-1 when it has none). */
  private[graft] def latest(root: String): Snapshot =
    resolve(root, _.lastOption.fold(-1)(_._1))

  private def resolve(root: String,
      gen: Seq[(Int, org.apache.hadoop.fs.Path)] => Int): Snapshot = {
    val (fs, commits, ckpts) = listLog(root)
    new Snapshot(root, fs, commits, ckpts, gen(commits),
      new java.util.concurrent.ConcurrentHashMap[Integer, String]())
  }

  /** READER FEATURES this build can honor (Delta's protocol
    * readerFeatures): a commit (or checkpoint) that introduces one of
    * these behaviors RECORDS it, and [[requireFeaturesReadable]] makes
    * any reader that does not know a recorded feature refuse the table
    * loudly instead of silently misreading — e.g. a pre-DV build
    * returning masked rows as live. Feature names are append-only. */
  private[graft] val SupportedReaderFeatures: Set[String] =
    Set("deletion-vectors", "column-mapping", "type-widening",
      "column-defaults", CkptParquetFeature)

  /** WRITER FEATURES this build can honor (Delta's protocol
    * writerFeatures — the second array of the reader/writer split): a
    * commit that introduces behavior an uninformed WRITER would break
    * (not merely misread) records it, and [[requireFeaturesWritable]]
    * makes any writer that does not know a recorded feature refuse the
    * table loudly BEFORE anything lands — e.g. a pre-constraints build
    * appending rows that violate a CHECK it never parses, or a
    * pre-colmap build staging logical-named files into a mapped table.
    * Reads are unaffected. Feature names are append-only. */
  private[graft] val SupportedWriterFeatures: Set[String] =
    Set("deletion-vectors", "column-mapping", "type-widening",
      "column-defaults", "check-constraints")

  /** The writer features REQUIRED at `gen`, cumulative like
    * [[featuresAsOf]] — checkpoint-folded so retention cannot drop the
    * only commit that recorded one. */
  private[graft] def writerFeaturesAsOf(root: String, gen: Int): Set[String] =
    snapshot(root, gen).writerFeatures

  /** The WRITE-path protocol gate: refuse when `root` requires a writer
    * feature this build does not implement. The UNBYPASSABLE check
    * lives inside [[commitNames]] (every write lands through it, and a
    * refusal there leaves the LOG unchanged); the staging verbs gate
    * BEFORE writing anything through [[writePrologue]], and the
    * row-level DML / maintenance verbs before their heavy reads — a
    * refusal never costs a full-dataset stage write.
    * Old logs carry no array and pass free. */
  private[graft] def requireFeaturesWritable(root: String): Unit =
    requireWritable(latest(root))

  private def requireWritable(snap: Snapshot): Unit = {
    val unknown =
      (snap.writerFeatures -- SupportedWriterFeatures).toSeq.sorted
    if (unknown.nonEmpty)
      throw new UnsupportedOperationException(
        s"time travel: writing to ${snap.root} requires writer features " +
          s"${unknown.mkString(", ")} this build does not support — " +
          "upgrade the writer; refusing to corrupt the table (reads " +
          "are unaffected)")
  }

  /** Refuse when `txt` (a commit or checkpoint JSON) requires a reader
    * feature this build does not implement — the protocol gate every
    * snapshot resolution and change-feed read passes through. Logs
    * written before feature recording carry no array and pass free. */
  private def requireFeaturesReadable(txt: String, where: String): Unit =
    requireFeatureSetReadable(
      parseArr(txt, "features").toSet, where)

  private def requireFeatureSetReadable(fts: Set[String],
      where: String): Unit = {
    val unknown = (fts -- SupportedReaderFeatures).toSeq.sorted
    if (unknown.nonEmpty)
      throw new UnsupportedOperationException(
        s"time travel: $where requires reader features " +
          s"${unknown.mkString(", ")} this build does not support — " +
          "upgrade the reader; refusing to misread the table")
  }

  /** The commits of (fromGen, snap.gen] that change rows, each parsed
    * once: (version, added, removed, dvs, cdc); `nodata`-flagged
    * commits (compaction — Delta's dataChange=false) are skipped. The
    * gate is CUMULATIVE first — a feature recorded at or before fromGen
    * still governs the range's files (column mapping names them
    * physically), so the range must refuse where a snapshot read of the
    * same table does — then per commit. Shared by every change-feed
    * reader: only the RANGE's commit files are read, never the whole log. */
  private def changeRange(snap: Snapshot, fromGen: Int, what: String)
      : Seq[(Int, Seq[String], Seq[String], Seq[String], Seq[String])] = {
    requireFeatureSetReadable(snap.features, what)
    snap.commits.filter(c => c._1 > fromGen && c._1 <= snap.gen)
      .map { case (v, f) =>
        val txt = snap.text(v, f)
        requireFeaturesReadable(txt, s"commit $v of ${snap.root}")
        (v, parseArr(txt, "flags"), parseArr(txt, "added"),
          parseArr(txt, "removed"), parseArr(txt, "dvs"), parseArr(txt, "cdc"))
      }
      .collect { case (v, fl, a, r, d, c) if !fl.contains("nodata") => (v, a, r, d, c) }
  }

  /** The change-feed delta of commits (fromGen, toGen]: the data files
    * whose rows were ADDED in the range. Any remove or deletion-vector
    * commit in the range is rewritten history and fails loudly. Shared
    * by [[readChangesSince]] and the streaming change-feed source. */
  private[graft] def changeFiles(root: String, fromGen: Int, toGen: Int)
      : Seq[String] = {
    val range = changeRange(snapshot(root, toGen), fromGen,
      s"change feed ($fromGen, $toGen] of $root")
    require(range.forall(_._3.isEmpty),
      s"time travel: range ($fromGen, $toGen] contains remove-commits — " +
        "file-level change reads are append-only; diff snapshots instead")
    require(range.forall(_._4.isEmpty),
      s"time travel: range ($fromGen, $toGen] contains deletion-vector " +
        "commits — a row delete is rewritten history to an append-only " +
        "change consumer; diff snapshots instead")
    range.flatMap(_._2)
  }

  /** Latest committed generation, -1 when the table does not exist yet.
    * A name-only listing — no commit content is read. */
  def currentVersion(root: String): Int = {
    val (_, commits, _) = listLog(root)
    commits.lastOption.map(_._1).getOrElse(-1)
  }

  /** Commit `df` as the next generation: an APPEND, or — when `removed`
    * names files of earlier generations — a REWRITE (compaction,
    * overwrite) that retires them in the same atomic commit. `df` arrives
    * under the LOGICAL schema and is stored under the column mapping's
    * physical names, so files written before and after a rename stay
    * byte-compatible. Returns the version the commit landed as. */
  def commit(s: SparkSession, root: String, df: DataFrame,
      removed: Seq[String] = Nil, flags: Seq[String] = Nil,
      txn: Option[String] = None): Int =
    commitAt(s, latest(root), df, removed, flags, txn)

  /** [[commit]] planned against `snap`, the latest generation. */
  private def commitAt(s: SparkSession, snap: Snapshot, df: DataFrame,
      removed: Seq[String], flags: Seq[String], txn: Option[String]): Int = {
    val (_, phys) = writePrologue(s, snap, df)
    // Optimistic concurrency: claim version N with an atomically-refusing
    // rename (claimVersion); the loser of a race re-reads the log and
    // retries at N+1 — data files are immutable, so the retry is
    // metadata-only. Before EVERY claim of a remove-commit, the remove set
    // is re-validated against the would-be parent snapshot: if a commit
    // that won meanwhile already retired any of these files (two racing
    // compactions), blind-landing a second remove would corrupt the log —
    // that is a logical conflict, reported loudly for the caller to
    // re-plan, never retried past. (Shared claim loop: commitNames.)
    commitNames(s, snap.root, stageFiles(s, snap.root, phys).map(_.name),
      removed, schemaDdl = Some(df.schema.toDDL), flags = flags, txn = txn)
  }

  /** The checks every library write verb runs before it stages, against
    * ONE resolution of the current generation, `snap`: the writer-feature
    * gate, CHECK constraints and schema enforcement on the logical frame,
    * the identity guard, then the translation to physical names. Identity
    * tables take their ids from the catalog INSERT/epoch path's fill — a
    * direct append would land `df`'s values verbatim, outside the
    * high-water mark — so it refuses as `what`. DML and maintenance
    * callers re-stage EXISTING ids and hand `ddlExpect`, their read
    * epoch: they skip the guard and stage under THAT mapping — resolving
    * it here would silently adopt an interleaved RENAME's mapping for
    * rows read under the old names; [[commitNames]] re-verifies the epoch
    * inside the lock. Everyone else stages under `colmapAt(snap)`: the
    * table's own mapping, or a branch's base-first merge. Returns the
    * mapping and the physical frame. */
  private def writePrologue(s: SparkSession, snap: Snapshot, df: DataFrame,
      ddlExpect: Option[(Map[String, String], Option[String])] = None,
      what: String = "library appends",
      colmapAt: Option[Snapshot => Map[String, String]] = None)
      : (Map[String, String], DataFrame) = {
    requireWritable(snap)
    validateConstraintsIn(snap, df)
    validateSchemaIn(snap, df.schema)
    if (ddlExpect.isEmpty) requireNotIdentityIn(snap.root, snap.props, what)
    val cm = ddlExpect.map(_._1).getOrElse(colmapAt.fold(snap.colmap)(_(snap)))
    (cm, toPhysicalFrameCm(cm, df))
  }

  /** One staged file, renamed into `data/`: its committed name, the
    * value of the `partitionBy` directory it was written under ("" for a
    * flat stage), and its per-file log lines (`<name>|<tail>`). */
  private final case class Staged(name: String, value: String,
      lines: Seq[String])

  /** The one staging step every write lands data through: write `df` to
    * a fresh `stage-<uuid>` directory (split into `<key>=<value>`
    * directories by `partitionBy` when given), list the parquet files in
    * (directory, file) order, and rename each into `data/` as
    * `<uid>-<tag(value, ordinal)><part name>` — collision-free, live the
    * moment the commit that lists them lands, and never renamed or
    * rewritten afterwards. `summarize`, when given, reads the staged
    * files once and returns each file's log-line tails keyed by its path
    * under the stage; a file it returns nothing for holds no rows and is
    * not committed (a stat-less file would stay un-prunable forever),
    * unless `keepUnsummarized`. The stage directory is deleted whether
    * or not the write succeeds: `vacuum` lists only `data/` and `cdc/`,
    * so nothing else would ever reclaim it. */
  private def stageFiles(s: SparkSession, root: String, df: DataFrame,
      partitionBy: Option[String] = None,
      tag: (String, Int) => String = (_, _) => "",
      summarize: Option[(DataFrame, Column) => Map[String, Seq[String]]] = None,
      keepUnsummarized: Boolean = false): Seq[Staged] = {
    val stage = new org.apache.hadoop.fs.Path(
      s"$root/stage-${java.util.UUID.randomUUID()}")
    val (fs, _) = fsFor(root)
    try {
      tableWriter(partitionBy.fold(df.write)(df.write.partitionBy(_)))
        .mode("overwrite").parquet(stage.toString)
      def parts(dir: org.apache.hadoop.fs.Path) =
        fs.listStatus(dir).map(_.getPath)
          .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toSeq
      // (directory value, path under the stage, staged file)
      val files = partitionBy match {
        case None => parts(stage).map(f => ("", f.getName, f))
        case Some(key) =>
          fs.listStatus(stage).filter(_.isDirectory).map(_.getPath)
            .sortBy(_.getName).toSeq.flatMap { d =>
              val dir = d.getName
              if (!dir.startsWith(s"$key="))
                throw new IllegalStateException(
                  s"time travel: unexpected staging entry $dir")
              val value =
                java.net.URLDecoder.decode(dir.stripPrefix(s"$key="), "UTF-8")
              parts(d).map(f => (value, s"$dir/${f.getName}", f))
            }
      }
      val summary = summarize.map(_(s.read.parquet(stage.toString),
        substring_index(col("_metadata.file_path"), "/",
          if (partitionBy.isEmpty) -1 else -2)))
      val kept = summary match {
        case Some(m) if !keepUnsummarized => files.filter(f => m.contains(f._2))
        case _ => files
      }
      val uid = java.util.UUID.randomUUID().toString.take(8)
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/data"))
      kept.zipWithIndex.map { case ((value, key, f), i) =>
        val name = s"$uid-${tag(value, i)}${f.getName}"
        require(fs.rename(f, new org.apache.hadoop.fs.Path(s"$root/data/$name")),
          s"time travel: staging rename of $f failed")
        Staged(name, value,
          summary.flatMap(_.get(key)).getOrElse(Nil).map(t => s"$name|$t"))
      }
    } finally fs.delete(stage, true)
  }

  /** The per-file `col|min|max` line tails of the staged files for each
    * of `cols` — one narrow aggregate over the delta just written, grouped
    * by file. A column whose values in a file are all NULL records no
    * line: it cannot prune that file. */
  private def minMaxLines(cols: Seq[String])(staged: DataFrame,
      file: Column): Map[String, Seq[String]] = {
    val aggs = cols.flatMap(c => Seq(min(col(c)), max(col(c))))
    staged.groupBy(file.as("f")).agg(aggs.head, aggs.tail: _*).collect()
      .map(r => r.getString(0) -> cols.indices.flatMap { j =>
        (Option(r.get(1 + 2 * j)), Option(r.get(2 + 2 * j))) match {
          case (Some(lo), Some(hi)) => Some(s"${cols(j)}|$lo|$hi")
          case _ => None
        }
      }).toMap
  }

  /** Stage `df` hash-partitioned on the expression `p`, one file per
    * distinct value (each value's rows land wholly in one shuffle task,
    * and the dynamic-partition write splits the task's output by value),
    * optionally sorted within files; the expression itself is written
    * away by `partitionBy`. One task serves every value hashing to it,
    * so part-file names REPEAT across value directories — a per-file
    * ordinal tag `v<i>` keeps the committed names collision-free. */
  private def stageByValue(s: SparkSession, root: String, df: DataFrame,
      p: Column, sortWithin: Option[String] = None): Seq[Staged] = {
    val keyed = df.withColumn("__p", p).repartition(col("__p"))
    stageFiles(s, root,
      sortWithin.fold(keyed)(c => keyed.sortWithinPartitions("__p", c)),
      partitionBy = Some("__p"), tag = (_, i) => s"v$i-")
  }

  /** The claim primitive: publish `tmp` as `dst` atomically, REFUSING an
    * existing destination. `FileSystem.rename` is not that primitive:
    * on `file:` it is POSIX rename(2), which silently REPLACES the
    * destination, so two racing committers could both "win" a version
    * and one commit's rows would vanish. On `file:` the claim is a hard
    * link — link(2) refuses an existing name atomically, across
    * processes too — after which the `.crc` sidecar moves to the
    * claimed name and the temp name is deleted. Other schemes, and a
    * link that fails for any reason but an existing destination, use
    * `FileContext.rename(…, Options.Rename.NONE)`, the no-replace rename
    * of `AbstractFileSystem` (atomic on HDFS). Returns false when the
    * destination already exists — the lost-race signal the retry loop
    * consumes. */
  private[graft] def claimVersion(fs: org.apache.hadoop.fs.FileSystem,
      tmp: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Boolean = {
    def renameClaim(): Boolean =
      try {
        val fc = org.apache.hadoop.fs.FileContext.getFileContext(
          dst.toUri, fs.getConf)
        fc.rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.NONE)
        true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case _: java.nio.file.FileAlreadyExistsException => false
        case e: java.io.IOException if fs.exists(dst) => false
      }
    if (fs.getUri.getScheme != "file") renameClaim()
    else {
      def local(p: org.apache.hadoop.fs.Path) =
        java.nio.file.Paths.get(fs.makeQualified(p).toUri)
      def crc(p: org.apache.hadoop.fs.Path) =
        local(new org.apache.hadoop.fs.Path(p.getParent, s".${p.getName}.crc"))
      val linked =
        try { java.nio.file.Files.createLink(local(dst), local(tmp)); Some(true) }
        catch {
          case _: java.nio.file.FileAlreadyExistsException => Some(false)
          case _: java.io.IOException | _: UnsupportedOperationException => None
        }
      linked match {
        case Some(true) =>
          // the version is claimed: a failed tidy-up must not fail the
          // commit (vacuum reclaims the temp name)
          try {
            if (java.nio.file.Files.exists(crc(tmp)))
              java.nio.file.Files.move(crc(tmp), crc(dst),
                java.nio.file.StandardCopyOption.REPLACE_EXISTING)
            java.nio.file.Files.delete(local(tmp))
          } catch { case e: java.io.IOException =>
            warnOnce("claim tidy-up", dst.getParent.toString, e)
          }
          true
        case Some(false) => false
        case None => renameClaim()
      }
    }
  }

  /** The DDL epoch a rewrite read at: (column mapping, logical schema
    * DDL) at `gen`. DML verbs capture it at their read generation and
    * hand it to the staging commit verbs, which (a) translate through
    * THIS mapping — not one re-resolved at commit time — and (b) have
    * [[commitNames]] verify it still holds inside the commit lock, so
    * an interleaved RENAME/ALTER becomes an explicit conflict instead
    * of silently staging stale names. */
  private[graft] def ddlEpoch(root: String, gen: Int)
      : (Map[String, String], Option[String]) =
    ddlEpochOf(snapshot(root, gen))

  private def ddlEpochOf(snap: Snapshot)
      : (Map[String, String], Option[String]) =
    (snap.colmap, snap.schema.map(_.toDDL))

  /** Commit `df` BUCKETED by `keyCol` into `nBuckets` hash buckets, one
    * parquet file per bucket, the bucket id encoded in the FILE NAME
    * (`<uid>-b<k>-…`). This is the layout [[mergeInto]] prunes by: a
    * row-level upsert only ever rewrites the files of buckets its source
    * keys hash into. The bucket column itself is not stored — it is a
    * pure function of the key, re-derived when needed. */
  def commitBucketed(s: SparkSession, root: String, df: DataFrame,
      keyCol: String, nBuckets: Int, removed: Seq[String] = Nil,
      cdc: Seq[String] = Nil,
      dvExpect: Option[Map[String, Option[String]]] = None,
      ddlExpect: Option[(Map[String, String], Option[String])] = None)
      : Int = {
    val (cm, phys) = writePrologue(s, latest(root), df, ddlExpect)
    // bucket ids ride file names, so only the hash input column needs
    // translating, and it hashes the same VALUES under either name
    val staged = stageFiles(s, root,
      phys.withColumn("gb",
          pmod(hash(col(cm.getOrElse(keyCol, keyCol))), lit(nBuckets)))
        .repartition(nBuckets, col("gb")),
      partitionBy = Some("gb"), tag = (b, _) => s"b$b-")
    commitNames(s, root, staged.map(_.name), removed,
      schemaDdl = Some(df.schema.toDDL), cdc = cdc, dvExpect = dvExpect,
      ddlExpect = ddlExpect)
  }

  // Anchored to the exact commit-uid prefix: an embedded part-file UUID
  // can contain look-alike `-b<digits>-` groups (observed: `…-b044-…`),
  // and a greedy scan would misparse the bucket and silently skip the
  // file in merge pruning — duplicating rows.
  private val BucketName = """[0-9a-f]{8}-b(\d+)-.*""".r

  /** Commit `df` RANGE-CLUSTERED on `sortCol` into ~`nFiles` files, and
    * record each file's (min, max) of the sort column IN THE COMMIT —
    * Delta's data-skipping stats, kept in the log so range reads prune
    * files from METADATA alone. Stats are computed by one extra scan of
    * the staged delta (cost ∝ the commit's bytes, never the table's) and
    * serialized as `file|col|min|max` strings — the tolerant array parser
    * reads them back without a richer JSON layer. On a mapped table the
    * sort key translates and the stats lines key by PHYSICAL name (the
    * q210 discipline the DSv2 pruner translates through). */
  def commitClustered(s: SparkSession, root: String, df: DataFrame,
      lSortCol: String, nFiles: Int, removed: Seq[String] = Nil,
      cdc: Seq[String] = Nil,
      dvExpect: Option[Map[String, Option[String]]] = None,
      ddlExpect: Option[(Map[String, String], Option[String])] = None)
      : Int = {
    val (cm, phys) = writePrologue(s, latest(root), df, ddlExpect)
    val sortCol = cm.getOrElse(lSortCol, lSortCol)
    val staged = stageFiles(s, root,
      phys.repartitionByRange(nFiles, col(sortCol))
        .sortWithinPartitions(sortCol),
      summarize = Some(minMaxLines(Seq(sortCol))))
    commitNames(s, root, staged.map(_.name), removed, staged.flatMap(_.lines),
      schemaDdl = Some(df.schema.toDDL), cdc = cdc, dvExpect = dvExpect,
      ddlExpect = ddlExpect)
  }

  /** Commit `df` Z-ORDER-CLUSTERED on N COLUMNS (2 ≤ n ≤ 4) with
    * per-file (min, max) stats for EVERY clustered column recorded in
    * the commit. Each column is affine-scaled to a 16-bit budget (bounds
    * from one narrow agg over the delta; n·16 ≤ 64 keeps the code in one
    * long), the bits interleaved ROUND-ROBIN from the most significant
    * down into a Morton code, and each file made EXACTLY one Z-prefix
    * grid cell (`nFiles` a power of two → log₂ bits of prefix) — so the
    * prefix bits cycle through the dimensions and a range read on ANY
    * clustered column prunes from log metadata, which a single-column
    * sort gives only its own key. Cell assignment is a pure function of
    * the keys, not sampled partition boundaries: the write hash-shuffles
    * on the cell id and dynamic-partitions one file per cell (an empty
    * cell writes nothing); the cell rides the file name (`<uid>-z<cell>-…`).
    * The interleave is 16·n codegen'd shift/and/or terms; Z columns are
    * never stored. On a mapped table the key columns translate and the
    * stats lines key by physical name. Delta's OPTIMIZE ZORDER BY, as a
    * log-native commit. */
  def commitZOrderedN(s: SparkSession, root: String, df: DataFrame,
      lcols: Seq[String], nFiles: Int, removed: Seq[String] = Nil,
      flags: Seq[String] = Nil,
      dvExpect: Option[Map[String, Option[String]]] = None,
      ddlExpect: Option[(Map[String, String], Option[String])] = None)
      : Int = {
    val n = lcols.size
    require(n >= 2 && n <= 4,
      s"time travel: z-order takes 2–4 columns, got $n")
    require(nFiles > 0 && (nFiles & (nFiles - 1)) == 0,
      s"time travel: z-order nFiles must be a power of two, got $nFiles")
    val (cm, phys) = writePrologue(s, latest(root), df, ddlExpect)
    val cols = lcols.map(c => cm.getOrElse(c, c))
    val prefixBits = java.lang.Integer.numberOfTrailingZeros(nFiles)
    require(prefixBits <= 16 * n,
      s"time travel: nFiles $nFiles exceeds the ${16 * n}-bit code")
    val mmExprs = cols.flatMap(c =>
      Seq(min(col(c)).cast("long"), max(col(c)).cast("long")))
    val mm = phys.agg(mmExprs.head, mmExprs.tail: _*).head()
    require(!mm.anyNull,
      s"time travel: z-order bounds of ${lcols.mkString(", ")} are null")
    val bounds = cols.indices.map(j => (mm.getLong(2 * j), mm.getLong(2 * j + 1)))
    // scale via a DOUBLE factor: (col-lo)*65535 in long arithmetic
    // overflows for ranges wider than ~1.4e14 and scrambles the z-codes
    // (pruning silently degrades to nothing). The double product is
    // monotonic in (col-lo), which is all cell assignment needs; the
    // per-file stats stay exact longs either way.
    def scale16(c: String, lo: Long, hi: Long) =
      least(lit(65535L), ((col(c).cast("long") - lit(lo)) *
        lit(65535.0 / math.max(1L, hi - lo))).cast("long"))
    val scaled = cols.zip(bounds).map { case (c, (lo, hi)) =>
      scale16(c, lo, hi)
    }
    // bit b (0-based from LSB) of dim j lands at position b·n + (n−1−j):
    // the MSB group (b = 15) fills the code's top n bits with one bit
    // per dimension, dim 0 most significant — round-robin from the top
    val zval = (0 until 16).foldLeft(lit(0L)) { (acc, b) =>
      scaled.zipWithIndex.foldLeft(acc) { case (a, (sc, j)) =>
        a.bitwiseOR(shiftleft(shiftright(sc, b).bitwiseAND(lit(1L)),
          b * n + (n - 1 - j)))
      }
    }
    // n stats lines per file, keyed by the cell-dir-qualified path (bare
    // part names repeat across cell dirs)
    val staged = stageFiles(s, root,
      phys.withColumn("__z", zval)
        .withColumn("__zcell",
          shiftright(col("__z"), 16 * n - prefixBits).cast("int"))
        .repartition(nFiles, col("__zcell"))
        .sortWithinPartitions("__zcell", "__z")
        .drop("__z"),
      partitionBy = Some("__zcell"), tag = (cell, _) => s"z$cell-",
      summarize = Some(minMaxLines(cols)))
    commitNames(s, root, staged.map(_.name), removed, staged.flatMap(_.lines),
      schemaDdl = Some(df.schema.toDDL), flags = flags,
      dvExpect = dvExpect, ddlExpect = ddlExpect)
  }

  /** AS-OF read pruned by the log's per-file stats: only files whose
    * recorded [min, max] of `statCol` overlaps [lo, hi] — plus files with
    * NO recorded stats (conservative: must scan) — enter the parquet
    * scan; the residual filter still applies for exactness. The pruning
    * decision costs the same commit reads resolution already performs —
    * no footer reads, no file opens for skipped files (TimeTravelSpec
    * asserts the scanned file set). */
  def readAsOfWhere(s: SparkSession, root: String, gen: Int,
      statCol: String, lo: Long, hi: Long): DataFrame = {
    val snap = snapshot(root, gen)
    val kept = touchedIn(snap, statCol, lo, hi)
    // explicit-schema read (defaults filled, widened files up-convert);
    // the frame carries physical names — statCol arrives physical like
    // every stats-keyed band argument
    val base =
      if (kept.isEmpty) readFilesFilledDvsIn(s, snap, snap.files).limit(0)
      else readFilesFilledDvsIn(s, snap, kept)
    base.filter(col(statCol) >= lo && col(statCol) <= hi)
  }

  /** The per-file (col, min, max) stats visible at generation `gen`:
    * newest checkpoint ≤ gen (whose `stats` array carries the resolved
    * lines for its snapshot's files) plus the tail commits. Numeric
    * (long-valued) columns only — the fixture's key columns. */
  private[graft] def statsFor(root: String, gen: Int)
      : Map[(String, String), (Long, Long)] = snapshot(root, gen).stats

  /** Row-level MERGE (upsert) into a [[commitBucketed]] table, pruned to
    * the TOUCHED buckets: source keys hash to a bucket set, only the
    * snapshot files of those buckets are read and rewritten (matched key
    * → the source row wins; unmatched existing rows are carried over;
    * unmatched source rows insert), and the commit removes exactly the
    * rewritten files — at 100 TB the upsert costs the touched buckets'
    * bytes, never the table's (Delta's MERGE file-pruning discipline).
    * Racing merges are safe: the remove-set conflict validation in
    * [[commit]] turns a double rewrite into one winner plus one explicit
    * conflict. Returns the committed version. */
  def mergeInto(s: SparkSession, root: String, source: DataFrame,
      keyCol: String, nBuckets: Int): Int = {
    val snap = latest(root)
    val gen = snap.gen
    require(gen >= 0, s"time travel: cannot merge into empty table $root")
    // a MERGE INSERTS unmatched source rows — on an identity table
    // those would need engine ids the merge path does not assign
    requireNotIdentityIn(root, snap.props, "merges")
    // COLUMN-MAPPED tables are supported (r18, lifting the r17 refusal):
    // `source` and `keyCol` arrive LOGICAL; the touched buckets read
    // physically (renamed columns keep their bytes, defaults filled)
    // and project to logical for the merge itself, commitBucketed's
    // mapped-aware staging translates back, and the CDC change files
    // land PHYSICAL-named like every data file (the q237 contract).
    val touched = source
      .select(pmod(hash(col(keyCol)), lit(nBuckets)).as("gb"))
      .distinct().collect().map(_.getInt(0)).toSet // ≤ nBuckets ints
    val toRewrite = snap.files.filter {
      case BucketName(b) => touched(b.toInt)
      case _ => true // a non-bucketed file may hold any key: rewrite it
    }
    val dvAtRead = snap.dvs
    val existing =
      if (toRewrite.isEmpty) source.limit(0)
      else toLogicalFrameIn(snap, readFilesFilledDvsIn(s, snap, toRewrite))
    val dataCols = source.columns.filter(_ != keyCol)
    require(existing.columns.sorted.sameElements(source.columns.sorted),
      s"time travel: merge source schema ${source.columns.toSeq} does not " +
        s"match table schema ${existing.columns.toSeq}")
    // two source rows with the same key are an ambiguous upsert — the
    // full_outer join would fan the match out into duplicates. Delta
    // raises its multiple-match error at merge time; the guard is one
    // small agg over the DELTA (never the table).
    require(source.groupBy(keyCol).count()
        .filter(col("count") > 1).limit(1).isEmpty,
      s"time travel: merge source carries duplicate $keyCol values — " +
        "an upsert needs one row per key; de-duplicate the source")
    // matched rows take the source value UNCONDITIONALLY — a source row
    // carrying NULL in a data column updates the table to NULL (MERGE
    // UPDATE semantics, and what the CDF update_postimage already
    // claims). Matches are tracked by a marker column, not value
    // coalescing, which would silently keep the old values.
    val merged = existing.as("b")
      .join(source.withColumn("__smark", lit(1)).as("s"),
        Seq(keyCol), "full_outer")
      .select(col(keyCol) +:
        dataCols.map(c =>
          when(col("s.__smark").isNotNull, col(s"s.$c"))
            .otherwise(col(s"b.$c")).as(c)): _*)
    // CDF on: matched keys emit pre/post images, unmatched source rows
    // emit inserts; carried-over existing rows emit nothing
    val cdc =
      if (!snap.cdf) Nil
      else {
        val srcKeys = source.select(keyCol).distinct()
        val exKeys = existing.select(keyCol).distinct()
        val pre = existing.join(srcKeys, Seq(keyCol), "left_semi")
          .withColumn("_change_type", lit("update_preimage"))
        val post = merged.join(srcKeys, Seq(keyCol), "left_semi")
          .join(exKeys, Seq(keyCol), "left_semi")
          .withColumn("_change_type", lit("update_postimage"))
        val ins = source.join(exKeys, Seq(keyCol), "left_anti")
          .withColumn("_change_type", lit("insert"))
        // change files land PHYSICAL-named (the feed's read-time
        // projection surfaces logical names — q237)
        writeCdcFiles(s, root, toPhysicalFrameCm(snap.colmap,
          pre.unionByName(post).unionByName(ins),
          extra = Seq("_change_type")))
      }
    commitBucketed(s, root, merged, keyCol, nBuckets, removed = toRewrite,
      cdc = cdc,
      dvExpect =
        Some(toRewrite.map(f => f -> dvAtRead.get(f).map(_._1)).toMap),
      ddlExpect = Some(ddlEpochOf(snap)))
  }

  /** Row-level DELETE of `statCol BETWEEN lo AND hi`, pruned by the log's
    * per-file stats: only files whose recorded [min, max] overlaps the
    * range — plus stat-less files, conservatively — are read, rewritten
    * without the matching rows, and retired in one atomic commit.
    * Untouched files keep their physical names (old snapshots and the new
    * one share them), so at 100 TB a range delete costs the overlapping
    * files' bytes, never the table's. The rewrite re-clusters on
    * `statCol` and records fresh stats, so later range reads keep
    * pruning; racing deletes resolve via the remove-conflict validation
    * (one winner, one explicit conflict). Returns the committed version,
    * or the current one when nothing overlaps. */
  def deleteWhere(s: SparkSession, root: String, statCol: String,
      lo: Long, hi: Long): Int = {
    val gen = currentVersion(root)
    require(gen >= 0, s"time travel: cannot delete from empty table $root")
    // COLUMN-MAPPED tables are supported (r18, lifting the r17 refusal):
    // `statCol` arrives LOGICAL and translates for the physical-keyed
    // stats lookup and band filter; the touched files read PHYSICALLY
    // (renamed columns keep their bytes, defaults filled, widened files
    // up-converted), the kept rows project to logical for
    // commitClustered's mapped-aware staging, and CDC change files land
    // PHYSICAL-named (the q237 contract).
    val physStat = colmapAsOf(root, gen).getOrElse(statCol, statCol)
    val touched = touchedFiles(root, gen, physStat, lo, hi)
    if (touched.isEmpty) gen
    else {
      val dvAtRead = dvsFor(root, gen)
      val cur = readFilesFilledDvs(s, root, gen, touched)
      // CDF on: the DELETED rows (exactly the live matches) land as
      // change files in the same commit — Delta's write-time CDC
      val cdc =
        if (!cdfEnabled(root, gen)) Nil
        else writeCdcFiles(s, root, cur.filter(col(physStat).between(lo, hi))
          .withColumn("_change_type", lit("delete")))
      val kept = toLogicalFrame(root, gen,
        cur.filter(!col(physStat).between(lo, hi)))
      commitClustered(s, root, kept, statCol, touched.size,
        removed = touched, cdc = cdc,
        dvExpect =
          Some(touched.map(f => f -> dvAtRead.get(f).map(_._1)).toMap),
        ddlExpect = Some(ddlEpoch(root, gen)))
    }
  }

  /** Row-level UPDATE of `setCol` to `setTo` where `statCol BETWEEN lo
    * AND hi`, pruned by the log's per-file stats exactly like
    * [[deleteWhere]]: only overlapping (or stat-less) files are read —
    * with any deletion vectors applied, so vectored-away rows never
    * resurrect — rewritten with the assignment folded in as a plain
    * codegen'd CASE, and retired in one atomic commit. Untouched files
    * keep their names; at 100 TB the update costs the overlapping files'
    * bytes. CHECK constraints re-validate the rewrite (an update CAN
    * break one — Delta enforces on update too). Delta's UPDATE. */
  def updateWhere(s: SparkSession, root: String, statCol: String,
      lo: Long, hi: Long, setCol: String,
      setTo: org.apache.spark.sql.Column): Int = {
    val gen = currentVersion(root)
    require(gen >= 0, s"time travel: cannot update empty table $root")
    // COLUMN-MAPPED tables are supported (r18, lifting the r17 refusal):
    // `statCol`/`setCol`/`setTo` arrive LOGICAL — the assignment applies
    // on the logical projection of the physically-read files (the names
    // the caller wrote it in), the rewrite stages back through
    // commitClustered's mapping, and CDC frames land PHYSICAL-named.
    val physStat = colmapAsOf(root, gen).getOrElse(statCol, statCol)
    val touched = touchedFiles(root, gen, physStat, lo, hi)
    if (touched.isEmpty) gen
    else {
      val dvAtRead = dvsFor(root, gen)
      val cur = toLogicalFrame(root, gen,
        readFilesFilledDvs(s, root, gen, touched))
      val band = col(statCol).between(lo, hi)
      val rewritten = cur.withColumn(setCol,
        when(band, setTo).otherwise(col(setCol)))
      // CDF on: pre- and post-image of exactly the updated rows
      val cdc =
        if (!cdfEnabled(root, gen)) Nil
        else writeCdcFiles(s, root, toPhysicalFrame(root, gen,
          cur.filter(band)
            .withColumn("_change_type", lit("update_preimage"))
            .unionByName(rewritten.filter(band)
              .withColumn("_change_type", lit("update_postimage"))),
          extra = Seq("_change_type")))
      commitClustered(s, root, rewritten, statCol, touched.size,
        removed = touched, cdc = cdc,
        dvExpect =
          Some(touched.map(f => f -> dvAtRead.get(f).map(_._1)).toMap),
        ddlExpect = Some(ddlEpoch(root, gen)))
    }
  }

  // ---- deletion vectors (Delta's DV / merge-on-read row deletes) ------

  private def dvDir(root: String) = s"${logDir(root)}/dv"

  /** Absolute path of a DV sidecar — the DSv2 scan's executor-side
    * readers resolve their masks through this. */
  private[graft] def dvSidecarPath(root: String, name: String): String =
    s"${dvDir(root)}/$name"

  /** DV payloads are SORTED row positions packed as varint (LEB128)
    * deltas — first position absolute, the rest gaps ≥ 1 — so a vector
    * costs ~1–2 bytes per deleted row for clustered deletes instead of 8.
    * (Delta uses roaring bitmaps; the contract is the same: a compact,
    * immutable, per-file positional delete mask stored BESIDE the log,
    * never inside the commit json.) */
  private[graft] def packPositions(sorted: Array[Long]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(sorted.length * 2)
    var prev = 0L
    var first = true
    sorted.foreach { p =>
      var d = if (first) p else p - prev
      require(d >= (if (first) 0L else 1L),
        s"time travel: DV positions must be sorted and distinct (at $p)")
      first = false; prev = p
      var done = false
      while (!done) {
        val b = (d & 0x7f).toInt
        d >>>= 7
        if (d != 0) out.write(b | 0x80) else { out.write(b); done = true }
      }
    }
    out.toByteArray
  }

  private[graft] def unpackPositions(bytes: Array[Byte]): Array[Long] = {
    val out = scala.collection.mutable.ArrayBuffer[Long]()
    var i = 0; var acc = 0L; var shift = 0; var prev = 0L; var first = true
    while (i < bytes.length) {
      val b = bytes(i) & 0xff
      acc |= (b & 0x7fL) << shift; shift += 7
      if ((b & 0x80) == 0) {
        val v = if (first) acc else prev + acc
        out += v; prev = v; first = false; acc = 0L; shift = 0
      }
      i += 1
    }
    out.toArray
  }

  private[graft] def readPositions(path: String,
      conf: org.apache.hadoop.conf.Configuration): Array[Long] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val len = fs.getFileStatus(p).getLen.toInt
    val in = fs.open(p)
    try {
      val b = new Array[Byte](len)
      in.readFully(b)
      unpackPositions(b)
    } finally in.close()
  }

  private[graft] def writePositions(path: String, pos: Array[Long],
      conf: org.apache.hadoop.conf.Configuration): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    // overwrite=true: the content is a deterministic function of the
    // file's rows + the predicate, so a RETRIED task (speculation, lost
    // executor) rewrites byte-identical content — idempotent, never torn
    val out = fs.create(p, true)
    try out.write(packPositions(pos)) finally out.close()
  }

  /** The deletion vectors in force at `gen`: file → (sidecar name,
    * cardinality), newest commit's entry per file winning. Entries for
    * files no longer in the snapshot are inert (readers intersect with
    * the snapshot's file list). */
  private[graft] def dvsFor(root: String, gen: Int)
      : Map[String, (String, Long)] = snapshot(root, gen).dvs

  /** The reader features REQUIRED at `gen`, cumulative (a mask written
    * at gen 3 still masks at gen 30) — folded into checkpoints so
    * retention cannot drop the only commit that recorded a feature. */
  private[graft] def featuresAsOf(root: String, gen: Int): Set[String] =
    snapshot(root, gen).features

  /** A reader of `root`'s data files under `sch` — parquet inference
    * when no schema is logged. */
  private def schemaReader(s: SparkSession, root: String,
      sch: Option[org.apache.spark.sql.types.StructType])
      : Seq[String] => DataFrame =
    fl => sch.fold(s.read)(s.read.schema(_)).parquet(fl.map(dataPath(root, _)): _*)

  /** Read `files` (a subset of snapshot `snap`) with its
    * generation's deletion vectors applied: DV'd files are read with
    * parquet's generated per-file row index and LEFT-ANTI-joined against
    * the unpacked position sets — sidecars are read in EXECUTORS (the
    * driver never materializes a vector), and the delete side is
    * broadcast when the logged cardinalities say it fits. Clean files
    * take the untouched plain path; with no DVs in force this is exactly
    * `reader(files)` — zero overhead for the common case. */
  private def readFilesWithDvs(s: SparkSession, snap: Snapshot,
      files: Seq[String],
      reader: Seq[String] => DataFrame): DataFrame = {
    val dvs = snap.dvs
    val dvFiles = files.filter(dvs.contains)
    if (dvFiles.isEmpty) reader(files)
    else {
      val plain = files.filterNot(dvs.contains)
      val conf = new org.apache.spark.util.SerializableConfiguration(
        s.sessionState.newHadoopConf())
      val dvRoot = dvDir(snap.root)
      import s.implicits._
      val entries = dvFiles.map(f => (f, dvs(f)._1))
      val deleted = s.createDataset(entries)
        .repartition(math.min(entries.size, 8))
        .flatMap { case (f, dv) =>
          readPositions(s"$dvRoot/$dv", conf.value).map(i => (f, i))
        }.toDF("__dvf", "__dvi")
      val totalCard = dvFiles.map(dvs(_)._2).sum
      val delSide =
        if (totalCard <= 2000000L) broadcast(deleted) else deleted
      val masked = reader(dvFiles)
        .withColumn("__dvf",
          element_at(split(col("_metadata.file_path"), "/"), -1))
        .withColumn("__dvi", col("_metadata.row_index"))
        .join(delSide, Seq("__dvf", "__dvi"), "left_anti")
        .drop("__dvf", "__dvi")
      if (plain.isEmpty) masked else reader(plain).unionByName(masked)
    }
  }

  /** Position-FRAGMENT sidecars (the merge-on-read DML tasks' payload
    * files) live beside the vectors; consumed and dropped at commit. */
  private[graft] def fragDir(root: String) = s"${dvDir(root)}/frag"

  /** The PHYSICAL read schema at `gen`: the logged logical schema with
    * each field renamed through the column mapping — what the parquet
    * files actually carry. Identity (and zero extra reads) on unmapped
    * tables. The maintenance/CDC reads below run entirely under
    * physical names; [[readRowChanges]]' one projection to the logical
    * schema at `toGen` is where names surface to users. */
  private def physSchemaAsOf(root: String, gen: Int)
      : Option[org.apache.spark.sql.types.StructType] =
    physSchemaOf(snapshot(root, gen))

  private def physSchemaOf(snap: Snapshot)
      : Option[org.apache.spark.sql.types.StructType] =
    snap.schema.map { sc =>
      val cm = snap.colmap
      if (cm.isEmpty) sc
      else org.apache.spark.sql.types.StructType(
        sc.map(f => f.copy(name = cm.getOrElse(f.name, f.name))))
    }

  /** `files` grouped by the set of DEFAULTED columns each one's parquet
    * footer LACKS, with the literal fill each group needs: a file
    * written before `ADD COLUMN … DEFAULT` must read the default, a
    * file that carries the column reads its stored bytes (Delta's
    * existingDefault semantics — a post-evolution explicit NULL stays
    * NULL, which a frame-wide coalesce would clobber). Footer probes
    * cost one metadata read per file, only on defaulted tables (the
    * rare case); DML callers pass their touched set, but full-table
    * maintenance (compact, purgeMasks) passes the whole snapshot — so
    * the probes run on a bounded driver thread pool (16-way), not
    * serially. One group with no fill on default-free
    * tables. */
  private def defaultFillGroups(root: String, gen: Int,
      files: Seq[String]): Seq[(Seq[String], Map[String, Column])] =
    defaultFillGroupsIn(snapshot(root, gen), files)

  private def defaultFillGroupsIn(snap: Snapshot,
      files: Seq[String]): Seq[(Seq[String], Map[String, Column])] = {
    val root = snap.root
    // defaults are keyed by PHYSICAL name, so the membership test and
    // the type lookup both run against the physical schema
    val schemaOpt = physSchemaOf(snap)
    // defaults whose column is no longer in the schema are STALE (the
    // defaulted column was dropped; its graft.default.* line is inert)
    // — skipped, the same tolerance the DSv2 reader's default map has
    val defaults = snap.defaults.filter { case (c, _) =>
      schemaOpt.exists(_.fieldNames.contains(c)) }
    if (defaults.isEmpty || files.isEmpty) return Seq((files, Map.empty))
    val schema = schemaOpt.get
    val (fs, _) = fsFor(root)
    def footerFields(name: String): Set[String] = {
      val r = graft.Tables.openParquet(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(dataPath(root, name)), fs.getConf))
      try {
        import scala.jdk.CollectionConverters._
        r.getFooter.getFileMetaData.getSchema.getFields.asScala
          .map(_.getName).toSet
      } finally r.close()
    }
    def fillFor(c: String, v: String): Column = {
      import org.apache.spark.sql.types._
      schema.fields.find(_.name == c).map(_.dataType) match {
        case Some(LongType) => lit(v.toLong)
        case Some(IntegerType) => lit(v.toInt)
        case Some(DateType) => // defaults render DATE as epoch days
          date_add(to_date(lit("1970-01-01")), v.toInt)
        case Some(DoubleType) => lit(v.toDouble)
        case Some(FloatType) => lit(v.toFloat)
        case Some(BooleanType) => lit(v.toBoolean)
        case Some(StringType) => lit(v)
        case other => throw new IllegalStateException(
          s"time travel: unsupported default type $other for $c")
      }
    }
    // concurrent probes on a bounded pool: full-table maintenance hands
    // the whole snapshot here, and each probe is a round-trip-dominated
    // footer open — 16-way keeps an object store busy without flooding it
    val missingByFile: Map[String, Set[String]] = {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(16, math.max(1, files.size)))
      try {
        import scala.jdk.CollectionConverters._
        val tasks: Seq[java.util.concurrent.Callable[(String, Set[String])]] =
          files.map(f => (() => (f, defaults.keySet -- footerFields(f)))
            : java.util.concurrent.Callable[(String, Set[String])])
        pool.invokeAll(tasks.asJava).asScala.map(_.get()).toMap
      } finally pool.shutdown()
    }
    files.groupBy(missingByFile)
      .toSeq.sortBy(_._2.head)
      .map { case (missing, fls) =>
        (fls, missing.toSeq.sorted
          .map(c => c -> fillFor(c, defaults(c))).toMap)
      }
  }

  /** Read `files` with generation `gen`'s deletion vectors applied AND
    * recorded column DEFAULTS filled per file group, so a row-level
    * rewrite persists the default every reader serves, never NULL. The explicit
    * logged read schema also up-converts type-WIDENED narrow files, the
    * same way [[readAsOf]] does. The frame carries PHYSICAL names
    * (identical to logical on unmapped tables) — callers that surface
    * rows to users project, like readAsOfMapped. Zero extra cost on
    * default-free unmapped tables: one group, plain schema read. */
  private[graft] def readFilesFilledDvs(s: SparkSession, root: String,
      gen: Int, files: Seq[String]): DataFrame =
    readFilesFilledDvsIn(s, snapshot(root, gen), files)

  private def readFilesFilledDvsIn(s: SparkSession, snap: Snapshot,
      files: Seq[String]): DataFrame = {
    require(files.nonEmpty, "time travel: readFilesFilledDvs of no files")
    val reader = schemaReader(s, snap.root, physSchemaOf(snap))
    defaultFillGroupsIn(snap, files).map { case (fls, fills) =>
      fills.foldLeft(readFilesWithDvs(s, snap, fls, reader)) {
        case (d, (c, v)) => d.withColumn(c, v)
      }
    }.reduce(_ unionByName _)
  }

  /** Row-level DELETE as a DELETION VECTOR (Delta's merge-on-read DVs):
    * instead of rewriting the stats-overlapping files, record each one's
    * matching ROW POSITIONS in an immutable sidecar and commit only the
    * (file → vector) references — the data files are untouched, old
    * snapshots read them unmasked, and the new snapshot anti-joins the
    * mask back in at scan time. At 100 TB this turns a delete's cost
    * from rewriting the overlapping files' bytes into writing ~1–2 bytes
    * per deleted row, at a bounded read-side price the next OPTIMIZE
    * [[compact]] materializes away (it reads through [[readAsOf]], which
    * applies the vectors, and retires the masked files). Vectors for a
    * file COMPOSE: a second delete unions its positions into a fresh
    * sidecar (sidecars are immutable; the commit's `dvExpect` turns a
    * racing re-delete or rewrite of the same file into an explicit
    * conflict, never a lost delete). Change feeds refuse ranges crossing
    * a DV commit — a row delete is rewritten history to an append-only
    * consumer. Returns the committed version; the current one when
    * nothing matches. */
  /** Stats-overlapping files of snapshot `gen` for `statCol ∈ [lo, hi]`
    * — the candidate set every row-level band operation starts from. */
  private def touchedFiles(root: String, gen: Int, statCol: String,
      lo: Long, hi: Long): Seq[String] =
    touchedIn(snapshot(root, gen), statCol, lo, hi)

  private def touchedIn(snap: Snapshot, statCol: String,
      lo: Long, hi: Long): Seq[String] = {
    val stats = snap.stats
    snap.files.filter { f =>
      stats.get((f, statCol)) match {
        case Some((fLo, fHi)) => fHi >= lo && fLo <= hi
        case None => true // no stats: may hold matching rows
      }
    }
  }

  /** Write the DELETION-VECTOR sidecars masking every `touched` file's
    * rows with `statCol ∈ [lo, hi]`, UNIONED with the file's existing
    * vector. Per-file positions are computed and written in EXECUTORS —
    * one task buffers one file's positions (bounded by the file's row
    * count, the same per-task bound Delta's DV writer has); only
    * (file, sidecar, cardinality) triples return to the driver. Returns
    * the triples plus the old-vector map the commit's `dvExpect`
    * conflict check needs. Shared by [[deleteVectorWhere]] and
    * [[updateVectorWhere]]. */
  private def writeMaskVectors(s: SparkSession, root: String, gen: Int,
      touched: Seq[String], statCol: String, lo: Long, hi: Long)
      : (Seq[(String, String, Long)], Map[String, String]) = {
    val snap = snapshot(root, gen)
    val dvs = snap.dvs
    val oldByFile: Map[String, String] =
      touched.flatMap(f => dvs.get(f).map(f -> _._1)).toMap
    val conf = taskConf(s)
    val dvRoot = dvDir(root)
    val (fs, _) = fsFor(root)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dvRoot))
    val uid = java.util.UUID.randomUUID().toString.take(8)
    import s.implicits._
    // per fill group: explicit PHYSICAL-schema read (widened files
    // up-convert; statCol arrives physical — log stats are phys-keyed),
    // defaulted band columns fill before the band filter — a default
    // equal to an in-band value masks pre-evolution rows correctly
    val reader = schemaReader(s, root, physSchemaOf(snap))
    val candidates = defaultFillGroupsIn(snap, touched)
      .map { case (fls, fills) =>
        reader(fls).select(
          element_at(split(col("_metadata.file_path"), "/"), -1).as("f"),
          col("_metadata.row_index").as("i"),
          fills.getOrElse(statCol, col(statCol)).as("__band"))
      }.reduce(_ unionByName _)
    val written = candidates
      .filter(col("__band").between(lo, hi))
      .groupBy("f").agg(sort_array(collect_list(col("i"))).as("pos"))
      .as[(String, Seq[Long])]
      .map { case (f, pos) =>
        val old = oldByFile.get(f)
          .map(n => readPositions(s"$dvRoot/$n", conf.value))
          .getOrElse(Array.empty[Long])
        val union = (pos.toArray ++ old).distinct.sorted
        val name = s"$uid-$f.dv"
        writePositions(s"$dvRoot/$name", union, conf.value)
        (f, name, union.length.toLong)
      }
      .collect().toSeq.sortBy(_._1)
    (written, oldByFile)
  }

  def deleteVectorWhere(s: SparkSession, root: String, statCol: String,
      lo: Long, hi: Long): Int = {
    val gen = currentVersion(root)
    require(gen >= 0, s"time travel: cannot delete from empty table $root")
    requireFeaturesWritable(root)
    // `statCol` arrives LOGICAL, like every sibling DML verb
    // (updateVectorWhere/deleteWhere/updateWhere) — the r18 ADVICE
    // asymmetry where only this verb took physical names is gone; the
    // catalog's metadata-DELETE path now passes the SQL filter column
    // through untranslated (dvRange) and the single translation
    // happens here, so swapped renames resolve once, correctly.
    val physStat = colmapAsOf(root, gen).getOrElse(statCol, statCol)
    val touched = touchedFiles(root, gen, physStat, lo, hi)
    if (touched.isEmpty) return gen
    val (written, oldByFile) =
      writeMaskVectors(s, root, gen, touched, physStat, lo, hi)
    if (written.isEmpty) gen
    else {
      // CDF on: the newly-deleted LIVE rows (already-masked rows don't
      // re-emit) land as change files beside the vectors — under
      // PHYSICAL names on mapped tables, like every data file; the
      // feed's read-time projection surfaces logical names (r17:
      // CDF × column-mapping is supported, the old write-time refusal
      // is gone)
      val cdc =
        if (!cdfEnabled(root, gen)) Nil
        else writeCdcFiles(s, root,
          readFilesFilledDvs(s, root, gen, touched)
            .filter(col(physStat).between(lo, hi))
            .withColumn("_change_type", lit("delete")))
      commitNames(s, root, Nil, Nil,
        flags = Seq("rowdelete"),
        dvs = written.map { case (f, n, c) => s"$f|$n|$c" },
        dvExpect = Some(written.map(w => w._1 -> oldByFile.get(w._1)).toMap),
        cdc = cdc)
    }
  }

  /** Row-level UPDATE as DELETION VECTOR + APPEND (Delta's merge-on-read
    * UPDATE): mask the matching LIVE rows' positions in the touched
    * files and append ONLY the updated rows, in the same atomic commit —
    * zero existing files rewritten, so the update costs ~bytes-per-
    * updated-row (mask + rewrite of just those rows) instead of the
    * touched files' bytes, the difference between KBs and TBs for a
    * point update at 100 TB. The appended files carry exact `[lo, hi]`
    * range stats on `statCol` (every appended row is in the band by
    * construction), so key-range pruning keeps serving the new files.
    * Vectors COMPOSE with earlier deletes/updates (position union;
    * already-masked rows are never read, so they neither update nor
    * resurrect), and the commit's `dvExpect` turns a racing rewrite or
    * re-delete of a touched file into an explicit conflict. CHECK
    * constraints re-validate the updated rows (an update can break one).
    * CDF on: pre/post images land as change files in the same commit.
    * The next OPTIMIZE [[compact]] materializes masks away. Returns the
    * committed version; the current one when nothing matches. */
  def updateVectorWhere(s: SparkSession, root: String, statCol: String,
      lo: Long, hi: Long, setCol: String,
      setTo: org.apache.spark.sql.Column): Int = {
    val gen = currentVersion(root)
    require(gen >= 0, s"time travel: cannot update empty table $root")
    // the appended files' stats claim every row is in [lo, hi] — true
    // only while the assignment leaves the band column alone; updating
    // the key itself is the copy-on-write updateWhere's job
    require(setCol != statCol,
      s"time travel: merge-on-read update of the band column $statCol " +
        "itself would falsify the appended files' range stats — use " +
        "updateWhere (copy-on-write) for key updates")
    // COLUMN-MAPPED tables are supported (r18, lifting the r17 refusal):
    // the band/assignment columns arrive LOGICAL, the mask + re-append
    // run PHYSICAL (stats lookup, band filter, staged bytes, CDC change
    // files), and the assignment itself applies on the logical
    // projection — the names the caller wrote it in. Defaulted tables
    // (always mapped — adds map to fresh physical names) re-append the
    // FILLED default, never NULL (readFilesFilledDvs — r16 ADVICE).
    val physStat = colmapAsOf(root, gen).getOrElse(statCol, statCol)
    val touched = touchedFiles(root, gen, physStat, lo, hi)
    if (touched.isEmpty) return gen
    // LIVE matching rows (read through the current vectors, defaults
    // filled): exactly the rows that re-land updated, and the CDC
    // pre-image — physical frame; the assignment applies logically
    val liveP = readFilesFilledDvs(s, root, gen, touched)
      .filter(col(physStat).between(lo, hi))
    val updatedL = toLogicalFrame(root, gen, liveP)
      .withColumn(setCol, setTo)
    val updatedP = toPhysicalFrame(root, gen, updatedL)
    val (written, oldByFile) =
      writeMaskVectors(s, root, gen, touched, physStat, lo, hi)
    if (written.isEmpty) gen
    else {
      // constraints speak logical names — validate the logical frame
      validateConstraints(s, root, updatedL)
      val cdc =
        if (!cdfEnabled(root, gen)) Nil
        else writeCdcFiles(s, root,
          liveP.withColumn("_change_type", lit("update_preimage"))
            .unionByName(updatedP
              .withColumn("_change_type", lit("update_postimage"))))
      val added = stageFiles(s, root, updatedP).map(_.name)
      commitNames(s, root, added, Nil,
        // exact band stats for the appended files: range pruning on the
        // key keeps working without opening a footer (physical-keyed)
        stats = added.map(n => s"$n|$physStat|$lo|$hi"),
        flags = Seq("rowupdate"),
        dvs = written.map { case (f, n, c) => s"$f|$n|$c" },
        dvExpect = Some(written.map(w => w._1 -> oldByFile.get(w._1)).toMap),
        schemaDdl = schemaAsOf(root, gen).map(_.toDDL),
        cdc = cdc)
    }
  }

  /** REORG … APPLY (PURGE) (Delta's surgical DV materialization):
    * rewrite ONLY the files whose deletion-vector mask covers at least
    * `minMaskedPct` percent of their rows, folding the mask in — the
    * merge-on-read read-side debt (the per-scan anti-join) drops to
    * zero for exactly the worst files, without paying a full-table
    * OPTIMIZE. Rows are unchanged (masked rows were already logically
    * deleted), so the commit is `nodata` and change feeds skip it; one
    * output file per purged input keeps the file-count shape. Files
    * without a logged row count are skipped conservatively (their ratio
    * is unknowable from metadata). The rewrite reads the PHYSICAL
    * schema with defaults filled and widened types up-converted, so
    * mapped/evolved tables purge correctly (r17 — the old colmap
    * refusal is gone). Returns the committed version; the current one
    * when no file crosses the threshold. */
  def purgeMasks(s: SparkSession, root: String, minMaskedPct: Int): Int = {
    require(minMaskedPct >= 1 && minMaskedPct <= 100,
      s"time travel: minMaskedPct must be in [1, 100], got $minMaskedPct")
    val gen = currentVersion(root)
    require(gen >= 0, s"time travel: no table at $root")
    requireFeaturesWritable(root)
    val dvs = dvsFor(root, gen)
    if (dvs.isEmpty) return gen
    val rows = nrowsFor(root, gen)
    val victims = snapshotFiles(root, gen).filter { f =>
      dvs.get(f).exists { case (_, card) =>
        rows.get(f).exists(n =>
          n > 0 && card * 100L >= minMaskedPct.toLong * n)
      }
    }
    if (victims.isEmpty) return gen
    // defaults fill per file group (r16 ADVICE): a purged pre-evolution
    // file's rewrite must persist the DEFAULT its readers served, not
    // NULL; the explicit PHYSICAL schema read also up-converts widened
    // files and keeps renamed columns' bytes on mapped tables (r17 —
    // the old colmap refusal is gone; the nodata commit keeps the
    // logical schema logged)
    val cleaned = readFilesFilledDvs(s, root, gen, victims)
      .coalesce(victims.size)
    commitNoData(s, root, gen, cleaned, removed = victims)
  }

  /** `graft_reorg(root, minMaskedPct)` — [[purgeMasks]] from pure SQL,
    * a lazy maintenance verb like its siblings. Returns
    * (version, files_purged). */
  def reorgPlan(exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(exprs.length == 2, "usage: graft_reorg(root, minMaskedPct)")
    val root = litStr(exprs(0), "root")
    val pct = litInt(exprs(1), "minMaskedPct")
    maintPlan("reorg", Seq("version", "files_purged")) {
      val s = SparkSession.active
      val before = currentVersion(root)
      val beforeFiles = snapshotFiles(root, before).toSet
      val v = purgeMasks(s, root, pct)
      val purged =
        if (v == before) 0L
        else (beforeFiles -- snapshotFiles(root, v).toSet).size.toLong
      Seq(v.toLong, purged)
    }
  }

  /** Commit a MERGE-ON-READ row-level DELTA (the publish half of the
    * DSv2 `SupportsDelta` write): union each touched file's deleted
    * positions into a fresh immutable sidecar, rename the staged insert
    * temps into `data/`, and land masks + adds as ONE atomic commit —
    * zero existing files rewritten or retired. Positions arrive as
    * per-file FRAGMENT sidecars the tasks already wrote in EXECUTORS
    * ([[fragDir]]); the union into each file's final vector runs as a
    * small distributed job (one task per touched file, the same
    * executor discipline [[writeMaskVectors]] has), so driver heap and
    * commit-message RPC stay ∝ touched-file COUNT — a 10⁹-row DELETE
    * never ships 8 GB of positions through `spark.driver.maxResultSize`
    * (r16 verdict #1). `dvExpect` turns a racing rewrite or re-delete
    * of a touched file into an explicit conflict, never a lost delete.
    * CHECK constraints re-validate the inserted rows
    * ([[commitStagedFiles]]). CDF on: the same commit lands the
    * DIFF-FORM change files ([[cdcForRowDelta]]) — the delta route no
    * longer falls back to copy-on-write for CDF tables (r16 verdict
    * #2). Consumed fragments are dropped after the commit. Returns the
    * committed version; the current one when the delta is empty. */
  private[graft] def commitRowDelta(s: SparkSession, root: String,
      fragments: Map[String, Seq[String]], temps: Seq[String]): Int = {
    val gen = currentVersion(root)
    require(gen >= 0, s"time travel: no table at $root")
    requireFeaturesWritable(root)
    if (fragments.isEmpty && temps.isEmpty) return gen
    val live = snapshotFiles(root, gen).toSet
    val ghosts = fragments.keys.filterNot(live)
    require(ghosts.isEmpty,
      s"time travel: row delta masks files not in snapshot $gen of " +
        s"$root: ${ghosts.mkString(", ")} — re-read and re-plan")
    val dvs = dvsFor(root, gen)
    val confB = taskConf(s)
    val dvRoot = dvDir(root)
    val (fs, _) = fsFor(root)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dvRoot))
    val uid = java.util.UUID.randomUUID().toString.take(8)
    import s.implicits._
    val entries = fragments.toSeq.sortBy(_._1)
      .map { case (f, frs) => (f, frs, dvs.get(f).map(_._1)) }
    // executor-side union: each task reads ONE file's fragments + its
    // existing vector and writes the final sidecar; only
    // (file, sidecar, cardinality) triples return to the driver
    val written =
      if (entries.isEmpty) Seq.empty[(String, String, Long)]
      else s.createDataset(entries)
        .repartition(math.min(entries.size, 32))
        .map { case (f, frs, old) =>
          val fresh = frs.toArray.flatMap(n =>
            readPositions(s"$dvRoot/frag/$n", confB.value))
          val prev = old
            .map(n => readPositions(s"$dvRoot/$n", confB.value))
            .getOrElse(Array.empty[Long])
          val union = (fresh ++ prev).distinct.sorted
          val name = s"$uid-$f.dv"
          writePositions(s"$dvRoot/$name", union, confB.value)
          (f, name, union.length.toLong)
        }
        .collect().toSeq.sortBy(_._1)
    val schemaDdl = schemaAsOf(root, gen).map(_.toDDL).getOrElse(
      throw new IllegalStateException(
        s"time travel: no logged schema under $root"))
    val cdc = cdcForRowDelta(s, root, gen, entries.map(e => (e._1, e._2)),
      temps)
    val v = commitStagedFiles(s, root, temps, schemaDdl,
      dvExpect = Some(entries.map { case (f, _, old) => f -> old }.toMap),
      dvs = written.map { case (f, n, c) => s"$f|$n|$c" },
      // delta re-inserts carry EXISTING ids (update = delete+reinsert)
      identityFill = false,
      cdc = cdc,
      flags = Seq("rowdelta"))
    // fragments are consumed — drop them (best-effort; a missed delete
    // is an orphan under _graft_log/dv/frag, never a read-path input)
    fragments.valuesIterator.flatten.foreach(n =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$dvRoot/frag/$n"), false))
    v
  }

  /** DIFF-FORM row-level CDC for a merge-on-read DELTA commit, matching
    * [[cdcDiffForReplace]]'s convention exactly (so a CDF consumer sees
    * the SAME feed whichever write strategy the table property picked):
    * the newly-masked live rows are the before-image — the delta scan
    * reads THROUGH live vectors, so the fragments' positions are
    * precisely the rows this DML deletes, recovered by a position
    * semi-join against the touched files (the q229 pattern) — the
    * staged inserts are the after-image, and the feed emits their
    * multiset difference. Fragment sidecars are read in EXECUTORS.
    * Column-mapped tables are SUPPORTED (r17): change files land under
    * PHYSICAL names like every data file, and the feed's read-time
    * projection surfaces logical names; defaults fill per file group. */
  private def cdcForRowDelta(s: SparkSession, root: String, gen: Int,
      frags: Seq[(String, Seq[String])], temps: Seq[String]): Seq[String] =
    if (!cdfEnabled(root, gen) || (frags.isEmpty && temps.isEmpty)) Nil
    else {
      val confB = new org.apache.spark.util.SerializableConfiguration(
        s.sessionState.newHadoopConf())
      val dvRoot = dvDir(root)
      // PHYSICAL names end to end: the delta writer staged its temps
      // through the column mapping and the touched files carry physical
      // fields — change files land physical-named and the feed's
      // read-time projection surfaces logical names
      val sch = physSchemaAsOf(root, gen)
      val cols = sch.map(_.fieldNames.toSeq).getOrElse(
        throw new IllegalStateException(
          s"time travel: no logged schema under $root"))
      val sel = cols.map(col)
      import s.implicits._
      val after =
        if (temps.isEmpty) None
        else Some(s.read.parquet(temps: _*).select(sel: _*))
      val before =
        if (frags.isEmpty) after.get.limit(0)
        else {
          val newDel = s.createDataset(frags)
            .repartition(math.min(frags.size, 32))
            .flatMap { case (f, frs) =>
              frs.toArray
                .flatMap(n => readPositions(s"$dvRoot/frag/$n", confB.value))
                .distinct.map(i => (f, i))
            }.toDF("__dvf", "__dvi")
          val reader = schemaReader(s, root, sch)
          defaultFillGroups(root, gen, frags.map(_._1))
            .map { case (fls, fills) =>
              fills.foldLeft(reader(fls)
                .withColumn("__dvf",
                  element_at(split(col("_metadata.file_path"), "/"), -1))
                .withColumn("__dvi", col("_metadata.row_index"))) {
                case (d, (c, v)) => d.withColumn(c, v)
              }
            }.reduce(_ unionByName _)
            .join(newDel, Seq("__dvf", "__dvi"), "left_semi")
            .select(sel: _*)
        }
      val post = after.getOrElse(before.limit(0))
      writeCdcFiles(s, root,
        before.exceptAll(post).withColumn("_change_type", lit("delete"))
          .unionByName(
            post.exceptAll(before)
              .withColumn("_change_type", lit("insert"))))
    }

  // ---- sink-side staged commits (the DSv2 writer's publish path) ------

  /** Commit parquet files a DSv2 writer ALREADY staged (two-phase
    * publish): validate CHECK constraints against the staged rows (one
    * scan, the same price [[commit]] pays), rename into `data/` under
    * commit-uid names, claim the next version. Callers drop zero-row
    * temps before handing them here (they know the counts). */
  /** Table property naming the IDENTITY column (Delta's `GENERATED
    * ALWAYS AS IDENTITY`, r18 verdict #5) and the log-carried
    * high-water mark its writers advance claim-protected. */
  private[graft] val IdentityColKey = "graft.identityCol"
  private[graft] val IdentityHwmKey = "graft.identity.hwm"

  /** The identity high-water-mark commit conflict, as its own TYPE
    * (still a ConcurrentModificationException for callers that handle
    * conflicts generically) so the re-assign retry loop keys on the
    * class, never on message wording (r19 ADVICE). */
  private[graft] final class IdentityHwmConflict(msg: String)
    extends java.util.ConcurrentModificationException(msg)

  private[graft] def commitStagedFiles(s: SparkSession, root: String,
      temps: Seq[String], schemaDdl: String, removed: Seq[String] = Nil,
      txn: Option[String] = None,
      dvExpect: Option[Map[String, Option[String]]] = None,
      props: Seq[String] = Nil, cdc: Seq[String] = Nil,
      dvs: Seq[String] = Nil, flags: Seq[String] = Nil,
      // row-level REWRITES re-stage existing rows WITH their already-
      // assigned ids — only fresh INSERT/epoch paths run the identity
      // fill (and its GENERATED ALWAYS refusal)
      identityFill: Boolean = true): Int = {
    val snap0 = latest(root)
    validateSchemaIn(snap0,
      org.apache.spark.sql.types.StructType.fromDDL(schemaDdl))
    if (temps.nonEmpty) {
      // staged temps carry PHYSICAL names on mapped tables; constraints
      // are written in LOGICAL ones — project before validating, or a
      // CHECK on a renamed column would null-fill and pass vacuously
      val cm = snap0.colmap
      val raw = s.read.parquet(temps: _*)
      val logical =
        if (cm.isEmpty) raw
        else {
          val inv = cm.map(_.swap)
          raw.select(raw.columns.toSeq
            .map(c => col(c).as(inv.getOrElse(c, c))): _*)
        }
      requireWritable(snap0)
      validateConstraintsIn(snap0, logical)
    }
    val fs = snap0.fs
    // on a lost identity race the rename has already happened — the
    // retry re-reads these (uncommitted, vacuum-fodder-if-abandoned)
    // data-dir paths and re-assigns over them
    var renamed: Seq[String] = Nil
    def land(stage: Seq[String], extraProps: Seq[String],
        identityExpect: Option[Option[String]]): Int = {
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/data"))
      val uid = java.util.UUID.randomUUID().toString.take(8)
      val added = stage.sorted.zipWithIndex.map { case (t, i) =>
        val name = s"$uid-w$i.parquet"
        require(fs.rename(new org.apache.hadoop.fs.Path(t),
            new org.apache.hadoop.fs.Path(s"$root/data/$name")),
          s"time travel: staged rename of $t failed")
        name
      }
      renamed = added.map(n => s"$root/data/$n")
      commitNames(s, root, added, removed,
        schemaDdl = Some(schemaDdl), txn = txn, dvExpect = dvExpect,
        props = props ++ extraProps, cdc = cdc, dvs = dvs, flags = flags,
        identityExpect = identityExpect)
    }
    // a CTAS cannot be born GENERATED ALWAYS — its SELECT already
    // carries id values the high-water mark never covered, and a later
    // INSERT would re-assign from hwm 0 into collisions
    require(temps.isEmpty || !props.exists(p =>
        p.startsWith(IdentityColKey + "|") &&
          p.length > IdentityColKey.length + 1),
      "time travel: identity tables are created EMPTY (CREATE TABLE " +
        "with TBLPROPERTIES('graft.identityCol'=…), then INSERT) — a " +
        "CTAS would carry user-supplied ids outside the high-water mark")
    val idCol = snap0.props.get(IdentityColKey).filter(_.nonEmpty)
    val idPhys = idCol.map(c => snap0.colmap.getOrElse(c, c))
    // one probe frame serves the column check AND the GENERATED ALWAYS
    // refusal, so the streaming hot path reads each footer once
    lazy val probe = s.read.parquet(temps: _*)
    if (!identityFill || temps.isEmpty || idPhys.isEmpty ||
        !probe.columns.contains(idPhys.get))
      return land(temps, Nil, None)
    // IDENTITY fill (Delta's GENERATED ALWAYS AS IDENTITY): ids are
    // ENGINE-assigned — a staged non-null value refuses loudly (first
    // pass only; retry passes re-assign the engine's own values). The
    // assignment is hwm + 1 + monotonically_increasing_id(): unique and
    // above every prior id, gaps-tolerant (Delta documents the same),
    // computed DISTRIBUTED over the staged delta (cost ∝ the commit's
    // bytes, never the table's). The commit carries the advanced
    // high-water mark as a property and commitNames verifies the mark
    // it planned against INSIDE the lock — a racing identity writer
    // becomes a re-fill retry here, never a silent id collision.
    val phys = idPhys.get
    require(probe.filter(col(phys).isNotNull).limit(1).isEmpty,
      s"time travel: ${idCol.get} of $root is GENERATED ALWAYS AS " +
        "IDENTITY — ids are engine-assigned; stage NULLs in that column")
    var cur = temps
    var attempts = 0
    while (true) {
      val prevHwm = latest(root).props.get(IdentityHwmKey)
      val hwm = prevHwm.map(_.toLong).getOrElse(0L)
      val stageDir = s"$root/stage-id-${java.util.UUID.randomUUID().toString.take(8)}"
      tableWriter(s.read.parquet(cur: _*)
        .withColumn(phys,
          (lit(hwm + 1) + monotonically_increasing_id()).cast("long"))
        .write).mode("overwrite").parquet(stageDir)
      cur.foreach(t => fs.delete(new org.apache.hadoop.fs.Path(t), false))
      val staged = fs.listStatus(new org.apache.hadoop.fs.Path(stageDir))
        .map(_.getPath).filter(_.getName.endsWith(".parquet"))
        .map(_.toString).toSeq
      val newHwm = s.read.parquet(stageDir).agg(max(col(phys)))
        .head().getLong(0)
      try {
        val v = land(staged, Seq(s"$IdentityHwmKey|$newHwm"), Some(prevHwm))
        fs.delete(new org.apache.hadoop.fs.Path(stageDir), true)
        return v
      } catch {
        // typed conflict: the retry keys on the exception
        // CLASS, not a message substring, so rewording the conflict (or
        // another conflict that happens to mention "identity") cannot
        // change retry behavior
        case _: IdentityHwmConflict if attempts < 4 =>
          // a racing identity commit advanced the mark: re-assign over
          // the just-renamed (still uncommitted) files — their stale
          // ids are overwritten wholesale on the next pass
          attempts += 1
          fs.delete(new org.apache.hadoop.fs.Path(stageDir), true)
          cur = renamed
      }
    }
    -1 // unreachable
  }

  /** Change files for a METADATA delete (SQL `DELETE` on a file-aligned
    * predicate, or `TRUNCATE`): the deleted rows are exactly the removed
    * files' LIVE contents (DV masks applied), so the row-level feed
    * stays reconstructible across the commit — Delta's write-time CDC
    * for partition deletes. Empty when CDF is off (zero overhead).
    * Column-mapped tables are supported (r17): change files land under
    * PHYSICAL names, the feed's read-time projection maps them back. */
  private[graft] def cdcForRemovedFiles(s: SparkSession, root: String,
      gen: Int, removed: Seq[String]): Seq[String] =
    if (gen < 0 || removed.isEmpty || !cdfEnabled(root, gen)) Nil
    else writeCdcFiles(s, root,
      // PHYSICAL names on mapped tables (readFilesFilledDvs' frame);
      // the feed's read-time projection surfaces logical names — the
      // r16-ADVICE silent-no-change-files gap AND the r15 write-time
      // refusal are both gone: CDF × column-mapping is supported
      readFilesFilledDvs(s, root, gen, removed)
        .withColumn("_change_type", lit("delete")))

  /** DIFF-FORM row-level CDC for a copy-on-write group replacement
    * (SQL DELETE / UPDATE / MERGE through [[graft.sources.table
    * .ReplaceGroupsWrite]], r14 verdict #2): the feed emits the exact
    * multiset difference between the replaced files' live rows and
    * their rewrites — removed rows as `delete`, added rows as
    * `insert`. An UPDATE therefore appears as a delete/insert PAIR
    * (this group-based path rewrites whole files and cannot know
    * per-row clause attribution, unlike Delta's delta-based writers);
    * state reconstruction across the commit is identical, and rows a
    * MERGE carried over unchanged emit NOTHING (they cancel in the
    * diff). Cost: one extra pass over the TOUCHED files only, and only
    * when CDF is on. Column-mapped tables are supported (r17): the diff
    * runs — and its change files land — under PHYSICAL names, and the
    * feed's read-time projection surfaces logical ones. */
  private[graft] def cdcDiffForReplace(s: SparkSession, root: String,
      gen: Int, removed: Seq[String], temps: Seq[String],
      cols: Seq[String]): Seq[String] =
    if (gen < 0 || !cdfEnabled(root, gen) ||
        (removed.isEmpty && temps.isEmpty)) Nil
    else {
      // the diff runs entirely under PHYSICAL names: the staged temps
      // were written through the column mapping and the before-image
      // read is physical by construction — change files then land
      // physical-named like every data file, and the feed's one
      // read-time projection surfaces logical names (r17: the r15
      // write-time colmap refusal is gone; CDF × column-mapping works)
      val cm = colmapAsOf(root, gen)
      val sel = cols.map(c => col(cm.getOrElse(c, c)))
      val after =
        if (temps.isEmpty) None
        else Some(s.read.parquet(temps: _*).select(sel: _*))
      val before =
        if (removed.isEmpty) after.get.limit(0)
        else readFilesFilledDvs(s, root, gen, removed).select(sel: _*)
      val post = after.getOrElse(before.limit(0))
      writeCdcFiles(s, root,
        before.exceptAll(post).withColumn("_change_type", lit("delete"))
          .unionByName(
            post.exceptAll(before).withColumn("_change_type", lit("insert"))))
    }

  /** Commit staged parquet a PARTITIONED DSv2 writer produced, so a
    * catalog `INSERT INTO` on a `PARTITIONED BY` table lands with the same
    * log metadata [[commitPartitioned]] writes. Each staged temp carries
    * one derived value PER SPEC TERM, recorded as that term's tagged stats
    * line — identity `=` lines keep the q214 equality-pruning/SPJ/DPP
    * machinery, `~month`/`~day`/`~year` lines the q195 generated-column
    * derivation, `#bucket:n` lines hash-bucket pruning. One commit shape
    * serves `PARTITIONED BY (months(d), bucket(8, k), region)` whole. */
  private[graft] def commitStagedPartitionedSpec(s: SparkSession,
      root: String, temps: Seq[(String, Seq[String])], schemaDdl: String,
      spec: Seq[PartTerm], removed: Seq[String] = Nil,
      props: Seq[String] = Nil, txn: Option[String] = None): Int = {
    validateSchema(s, root,
      org.apache.spark.sql.types.StructType.fromDDL(schemaDdl))
    if (temps.nonEmpty)
      validateConstraints(s, root, s.read.parquet(temps.map(_._1): _*))
    val (fs, _) = fsFor(root)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/data"))
    val uid = java.util.UUID.randomUUID().toString.take(8)
    val named = temps.sortBy(_._1).zipWithIndex.map { case ((t, vs), i) =>
      val name = s"$uid-w$i.parquet"
      require(fs.rename(new org.apache.hadoop.fs.Path(t),
          new org.apache.hadoop.fs.Path(s"$root/data/$name")),
        s"time travel: staged rename of $t failed")
      (name, vs)
    }
    commitNames(s, root, named.map(_._1), removed,
      stats = named.flatMap { case (n, vs) =>
        require(vs.length == spec.length,
          s"time travel: ${vs.length} partition values for a " +
            s"${spec.length}-term spec")
        spec.zip(vs).map { case (t, v) => s"$n|${t.col}|${t.tag}|$v" }
      },
      schemaDdl = Some(schemaDdl), props = props, txn = txn)
  }

  /** The PARTITIONED streaming-sink epoch commit: [[commitStagedTxn]]'s
    * exactly-once contract with per-file partition values recorded —
    * `writeStream.toTable` on a `PARTITIONED BY` catalog table lands one
    * pruned-readable generation per epoch, replayed epochs land nothing. */
  private[graft] def commitStagedPartitionedTxn(s: SparkSession,
      root: String, temps: Seq[(String, Seq[String])], schemaDdl: String,
      spec: Seq[PartTerm], appId: String, version: Long): Int = {
    require(!appId.contains("|"), "txn appId must not contain '|'")
    lockFor(root).synchronized {
      if (lastTxnVersion(root, appId).exists(_ >= version)) {
        val (fs, _) = fsFor(root)
        temps.foreach(t =>
          fs.delete(new org.apache.hadoop.fs.Path(t._1), false))
        currentVersion(root) // replayed epoch: idempotent skip
      } else commitStagedPartitionedSpec(s, root, temps, schemaDdl, spec,
        txn = Some(s"$appId|$version"))
    }
  }

  /** The streaming-sink epoch commit: IDEMPOTENT under epoch replay via
    * the q178 txn mechanism — a replayed (appId, epoch) deletes its
    * re-staged temps and lands NOTHING (the log, not file replacement,
    * is the exactly-once primitive: the claim is atomic, so no partial
    * epoch is ever visible). Returns the committed (or current) version. */
  private[graft] def commitStagedTxn(s: SparkSession, root: String,
      temps: Seq[String], schemaDdl: String, appId: String,
      version: Long): Int = {
    require(!appId.contains("|"), "txn appId must not contain '|'")
    lockFor(root).synchronized {
      if (lastTxnVersion(root, appId).exists(_ >= version)) {
        val (fs, _) = fsFor(root)
        temps.foreach(t =>
          fs.delete(new org.apache.hadoop.fs.Path(t), false))
        currentVersion(root) // replayed epoch: idempotent skip
      } else commitStagedFiles(s, root, temps, schemaDdl,
        txn = Some(s"$appId|$version"))
    }
  }

  // ---- TIMESTAMP AS OF ------------------------------------------------

  /** A commit's IN-COMMIT timestamp (the `ts` field [[commitNames]]
    * writes at claim time — Delta's inCommitTimestamps); None for
    * pre-ts logs, whose commits fall back to file mtime. */
  private def commitTsIn(txt: String): Option[Long] =
    parseArr(txt, "ts").headOption.flatMap(t =>
      try Some(t.toLong) catch { case _: NumberFormatException => None })

  /** Every commit's (version, timestamp): the IN-COMMIT `ts` field when
    * present (authoritative — survives mtime-perturbing copies, backups
    * and touches of the log files; r15 verdict #6), the commit file's
    * modification time for pre-ts logs. The fold monotonizes, so a
    * mixed old/new log still resolves strictly-increasing times. One
    * name listing + one content read per commit — the same O(commits)
    * metadata cost every other resolution path pays. */
  def commitTimes(root: String): Seq[(Int, Long)] = {
    val (fs, commits, _) = listLog(root)
    var last = 0L
    commits.map { case (v, f) =>
      val raw = commitTsIn(commitText(fs, f)).getOrElse(
        fs.getFileStatus(f).getModificationTime)
      val t = math.max(raw, last + 1)
      last = t
      (v, t)
    }
  }

  /** The EXCLUSIVE change-feed start for a timestamp bound, matching
    * Delta's `startingTimestamp` (r16 ADVICE): one LESS than the first
    * generation whose in-commit timestamp is ≥ `tsMillis`, so the feed
    * delivers every commit at-or-after the instant INCLUSIVE — a
    * timestamp equal to a commit's own timestamp includes that commit's
    * changes. A pre-history bound clamps to the whole history (start
    * −1); a bound past the newest commit starts empty at the current
    * version (a stream then picks up only future commits). Contrast
    * [[versionAtTime]], the AS-OF resolution (newest commit ≤ ts). */
  def versionBeforeTime(root: String, tsMillis: Long): Int = {
    val times = commitTimes(root)
    require(times.nonEmpty, s"time travel: no commit log under $root")
    times.find(_._2 >= tsMillis).map(_._1 - 1)
      .getOrElse(times.last._1)
  }

  /** The generation in force at `tsMillis`: the newest commit at or
    * before it. A timestamp before the first commit is an error (the
    * table did not exist — Delta refuses the same way); one at or past
    * the newest commit resolves to the current version. */
  def versionAtTime(root: String, tsMillis: Long): Int = {
    val times = commitTimes(root)
    require(times.nonEmpty, s"time travel: no commits under $root")
    val at = times.filter(_._2 <= tsMillis)
    require(at.nonEmpty,
      s"time travel: timestamp $tsMillis predates the table's first " +
        s"commit (${times.head._2}) under $root")
    at.last._1
  }

  /** TIMESTAMP AS OF read (Delta's `TIMESTAMP AS OF`): resolve the
    * generation in force at `tsMillis`, then read that snapshot. */
  def readAsOfTimestamp(s: SparkSession, root: String,
      tsMillis: Long): DataFrame =
    readAsOf(s, root, versionAtTime(root, tsMillis))

  // ---- CHECK constraints ----------------------------------------------

  /** The CHECK constraints in force at `gen`: (name, sql) pairs,
    * accumulated across commits — a re-add under the same name replaces,
    * the clear marker (`name|-`) drops. Resolved from the newest
    * checkpoint ≤ gen + the tail commits, like [[dvsFor]]. */
  def constraintsAsOf(root: String, gen: Int): Seq[(String, String)] =
    snapshot(root, gen).constraints

  /** ADD a CHECK constraint (Delta's ALTER TABLE ADD CONSTRAINT): the
    * CURRENT snapshot must already satisfy it (one scan, loud failure
    * otherwise — with deletion vectors applied, masked rows don't
    * count), then a metadata-only commit records it; every later commit
    * validates its rows before anything lands. */
  def addConstraint(s: SparkSession, root: String, name: String,
      exprSql: String): Int = {
    require(name.nonEmpty && !name.contains("|"),
      s"time travel: bad constraint name '$name'")
    val gen = currentVersion(root)
    if (gen >= 0 && snapshotFiles(root, gen).nonEmpty) {
      // the MAPPED read: constraints are written in logical names — a
      // raw read of a renamed table would null the column and pass the
      // check vacuously (r17)
      val bad = readAsOfMapped(s, root, gen)
        .filter(coalesce(!expr(exprSql), lit(false))).limit(1).count()
      require(bad == 0,
        s"time travel: existing rows under $root violate CHECK $name " +
          s"($exprSql) — constraint not added")
    }
    commitNames(s, root, Nil, Nil, flags = Seq("constraint"),
      constraints = Seq(s"$name|$exprSql"))
  }

  /** Enforce the active CHECK constraints on a commit's rows BEFORE
    * anything stages: one combined pass (all constraints OR'd into one
    * violation predicate — Delta pays the same single extra scan per
    * write); the per-constraint re-check runs only on the failure path.
    * SQL CHECK semantics: a NULL predicate passes. */
  private def validateConstraints(s: SparkSession, root: String,
      df: DataFrame): Unit = {
    // the writer-feature gate rides along: a refusal must come before
    // the caller's staging write, not from commitNames after it
    val snap = latest(root)
    requireWritable(snap)
    validateConstraintsIn(snap, df)
  }

  private def validateConstraintsIn(snap: Snapshot, df: DataFrame): Unit = {
    val cs = snap.constraints
    if (cs.isEmpty) return
    val viol = cs.map(c => coalesce(!expr(c._2), lit(false))).reduce(_ || _)
    if (!df.filter(viol).limit(1).isEmpty) {
      val names = cs.filter(c =>
        !df.filter(coalesce(!expr(c._2), lit(false))).limit(1).isEmpty)
        .map(_._1)
      throw new IllegalArgumentException(
        s"time travel: commit violates CHECK constraint(s) " +
          s"${names.mkString(", ")} under ${snap.root} — nothing was committed")
    }
  }

  /** SCHEMA ENFORCEMENT on write (Delta's default, here opt-in via the
    * `graft.enforceSchema=true` property so schema-on-read EVOLUTION —
    * the q171 contract — stays the default): a commit whose columns
    * (name, type) differ from the schema logged at the current
    * generation refuses loudly, listing the drift. Nullability is not
    * compared (parquet writers flip it freely). */
  private def validateSchema(s: SparkSession, root: String,
      schema: org.apache.spark.sql.types.StructType): Unit =
    validateSchemaIn(latest(root), schema)

  private def validateSchemaIn(snap: Snapshot,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    if (!snap.props.get("graft.enforceSchema").contains("true")) return
    snap.schema.foreach { logged =>
      val want = logged.fields.map(f => (f.name, f.dataType)).toSeq
      val got = schema.fields.map(f => (f.name, f.dataType)).toSeq
      if (want != got)
        throw new IllegalArgumentException(
          s"time travel: commit schema ${got.mkString(", ")} does not " +
            s"match the enforced table schema ${want.mkString(", ")} " +
            s"under ${snap.root} — drop graft.enforceSchema or align the writer")
    }
  }

  // ---- table properties + row-level change feed (Delta's CDF) ---------

  /** The table PROPERTIES in force at `gen` (Delta's TBLPROPERTIES):
    * `key|value` lines, last write per key winning; resolved from the
    * newest checkpoint ≤ gen + the tail commits like [[dvsFor]]. */
  def propsAsOf(root: String, gen: Int): Map[String, String] =
    snapshot(root, gen).props

  /** SET a table property as a metadata-only commit (Delta's ALTER TABLE
    * SET TBLPROPERTIES). `graft.enableChangeDataFeed=true` switches the
    * DML paths below into writing row-level change files. */
  def setProperty(s: SparkSession, root: String, key: String,
      value: String): Int = {
    require(key.nonEmpty && !key.contains("|"),
      s"time travel: bad property key '$key'")
    commitNames(s, root, Nil, Nil, flags = Seq("props"),
      props = Seq(s"$key|$value"))
  }

  private[graft] def cdfEnabled(root: String, gen: Int): Boolean =
    snapshot(root, gen).cdf

  // ---- snapshot TAGS (Iceberg's named refs): a name pinned to a
  // generation, resolvable wherever a version number is ------------------

  /** The snapshot TAGS in force at `gen`: `graft.tag.<name>` table
    * properties (an empty value is a dropped tag), resolved like every
    * property — checkpoint + tail, surviving retention through the
    * checkpoint fold. */
  def tagsFor(root: String, gen: Int): Map[String, Int] =
    snapshot(root, gen).tags

  /** TAG generation `gen` as `name` (Iceberg's createTag): one metadata
    * commit. The tag resolves through `VERSION AS OF 'name'` and
    * `graft_asof(root, 'name')`, and PINS its generation against
    * retention — [[expireHistory]] refuses to drop below a tagged
    * generation until the tag is dropped. All-digit names are refused
    * (ambiguous with generation numbers). Re-tagging moves the name;
    * the commit history records both. At 100 TB a tag costs one KB-
    * sized commit — the release/audit anchor ("the snapshot we trained
    * v3 on") without cloning a byte. */
  def tagSnapshot(s: SparkSession, root: String, name: String,
      gen: Int): Int = {
    require(name.nonEmpty && !name.contains("|"),
      s"time travel: bad tag name '$name'")
    require(!name.forall(_.isDigit),
      s"time travel: tag name '$name' is all digits — ambiguous with a " +
        "generation number in VERSION AS OF")
    val live = currentVersion(root)
    require(gen >= 0 && gen <= live,
      s"time travel: cannot tag generation $gen of $root (latest: $live)")
    setProperty(s, root, s"graft.tag.$name", gen.toString)
  }

  /** Drop tag `name` (Iceberg's removeTag) — releases its retention
    * pin. Idempotent. */
  def dropTag(s: SparkSession, root: String, name: String): Int =
    setProperty(s, root, s"graft.tag.$name", "")

  /** Resolve a `VERSION AS OF` reference: digits are a generation
    * number verbatim; anything else is a tag name, resolved at the
    * CURRENT generation (a re-tag is visible immediately, like
    * Iceberg's refs). Unknown tags fail loudly, listing what exists. */
  def resolveVersionRef(root: String, ref: String): Int =
    if (ref.nonEmpty && ref.forall(_.isDigit)) ref.toInt
    else {
      val tags = tagsFor(root, currentVersion(root))
      tags.getOrElse(ref, throw new IllegalArgumentException(
        s"time travel: no tag '$ref' under $root" +
          (if (tags.isEmpty) " (no tags exist)"
           else s" (tags: ${tags.keys.toSeq.sorted.mkString(", ")})")))
    }

  // ---- BRANCHES (Iceberg's writable refs — tags' read-write sibling):
  // a branch forks a base generation, takes its own commits in the SAME
  // log directory under names main readers never see, and publishes
  // back by fast-forward when main has not moved. The staging-then-
  // publish workflow over one table's history: load a candidate
  // dataset on a branch, validate it, publish atomically — or drop it
  // without main ever seeing a byte. ---------------------------------

  /** Live branches at `gen`: `graft.branch.<name>` table properties
    * (empty value = dropped), name → base generation — resolved like
    * every property (checkpoint + tail, retention-proof). */
  def branchesFor(root: String, gen: Int): Map[String, Int] =
    snapshot(root, gen).branches

  // '@' separates name from sequence and is OUTSIDE the name charset:
  // with '-' as the separator, branch "x" commit 12 ("b-x-12.json")
  // would parse as branch "x-1" commit 2 — branch names may contain
  // dashes and digits, so any ≥10-commit branch silently lost commits.
  // (No back-compat parse for the '-' form: it was introduced and
  // replaced within the same unreleased change — no log ever shipped
  // with it.)
  private val BranchName = """[A-Za-z_][A-Za-z0-9_.-]*""".r
  private val BranchCommitName = """b-(.+)@(\d+)\.json""".r

  /** The logical→physical mapping a BRANCH frame resolves through: the
    * BASE generation's map first (a base-era column keeps its physical
    * name forever — a main-side rename after the fork moves only the
    * logical side, so the branch's base-era logical names must keep
    * resolving), falling back to the CURRENT map (a column ADDED on
    * main after the fork exists only there, and must store under its
    * fresh physical name or a later cherry-pick's physical-schema read
    * silently nulls it). Either resolution alone breaks one of the two
    * cases (r18 review, both directions). */
  /** (base generation, branch head logical schema, branch mapping) —
    * what the catalog's `tbl@branch` write surface needs to build the
    * DSv2 table without re-walking the log per call (r19 WAP SQL). */
  private[graft] def branchWriteInfo(root: String, name: String)
      : (Int, org.apache.spark.sql.types.StructType, Map[String, String]) = {
    val (base, _, schemaDdl, _, _) = branchState(root, name)
    val logical = schemaDdl
      .map(org.apache.spark.sql.types.StructType.fromDDL)
      .orElse(schemaAsOf(root, base))
      .getOrElse(throw new IllegalArgumentException(
        s"time travel: branch '$name' of $root has no logged schema"))
    (base, logical, branchColmap(root, base))
  }

  /** The branch HEAD's file set — the DSv2 read surface's resolution
    * (`SELECT … FROM cat.`t@branch``): base snapshot fold plus the
    * branch commits' adds-minus-removes. */
  private[graft] def branchHeadFiles(root: String, name: String)
      : Seq[String] = branchState(root, name)._2

  /** The branch's base-first merged mapping, for the DSv2 branch scan. */
  private[graft] def branchColmapOf(root: String, name: String)
      : Map[String, String] = branchColmapOfIn(latest(root), name)

  /** [[branchColmapOf]] over `snap`, the latest generation. */
  private def branchColmapOfIn(snap: Snapshot, name: String)
      : Map[String, String] =
    branchColmapIn(snap, snap.branches.getOrElse(name,
      throw new IllegalArgumentException(
        s"time travel: no branch '$name' under ${snap.root}")))

  private def branchColmap(root: String, base: Int): Map[String, String] =
    branchColmapIn(latest(root), base)

  /** The base-first merge over `snap`, the latest generation. */
  private def branchColmapIn(snap: Snapshot, base: Int): Map[String, String] =
    snap.colmap ++ snap.at(base).colmap // base wins on shared logical names

  /** CREATE a branch at generation `gen` (Iceberg's createBranch): one
    * metadata commit recording the base. The base generation is PINNED
    * against retention like a tag's; branch commits are invisible to
    * every main reader (their file names match no main pattern). */
  def createBranch(s: SparkSession, root: String, name: String,
      gen: Int): Int = {
    require(BranchName.matches(name),
      s"time travel: bad branch name '$name' (letters, digits, _ . - ; " +
        "must start with a letter or _)")
    val live = currentVersion(root)
    require(gen >= 0 && gen <= live,
      s"time travel: cannot branch at generation $gen of $root " +
        s"(latest: $live)")
    require(!branchesFor(root, live).contains(name),
      s"time travel: branch '$name' already exists under $root — drop " +
        "or publish it first")
    // leftover commit files from a previous '$name' life mean a writer
    // raced that branch's publish/drop and its staged rows were never
    // folded — refuse rather than silently graft them onto a new fork
    val stale = branchCommits(root, name)
    require(stale.isEmpty,
      s"time travel: leftover branch commit files for '$name' under " +
        s"$root (${stale.map(_._2.getName).mkString(", ")}) — a writer " +
        "raced the branch's publish or drop; inspect and delete them " +
        "before re-creating the name")
    setProperty(s, root, s"graft.branch.$name", gen.toString)
  }

  /** DROP a branch: clears the ref (one metadata commit) and deletes
    * its commit files; the branch's staged data files become vacuum
    * fodder. A nonexistent branch refuses loudly like every other
    * branch verb (r18 ADVICE: the unconditional setProperty landed a
    * spurious metadata commit and reported success). A concurrent
    * branch writer loses its in-flight commit (same as Iceberg's
    * dropBranch). */
  def dropBranch(s: SparkSession, root: String, name: String): Int = {
    require(branchesFor(root, currentVersion(root)).contains(name),
      s"time travel: no branch '$name' under $root")
    val v = setProperty(s, root, s"graft.branch.$name", "")
    val (fs, _) = fsFor(root)
    branchCommits(root, name).foreach { case (_, f) => fs.delete(f, false) }
    v
  }

  /** The branch's commit files, sorted by branch-sequence number. */
  private def branchCommits(root: String, name: String)
      : Seq[(Int, org.apache.hadoop.fs.Path)] = {
    val (fs, d) = fsFor(logDir(root))
    if (!fs.exists(d)) return Nil
    fs.listStatus(d).map(_.getPath).flatMap(f => f.getName match {
      case BranchCommitName(n, k) if n == name => Some((k.toInt, f))
      case _ => None
    }).sortBy(_._1).toSeq
  }

  /** The branch head's state: (base generation, files, latest logical
    * schema DDL if any branch commit logged one, per-file nrows lines,
    * the branch commits the fold consumed). Files = the base snapshot's
    * fold plus the branch commits' fold — the same adds-minus-removes
    * discipline main resolution uses. The consumed-commit list rides
    * along so fast-forward can pin exactly what it publishes (r18
    * ADVICE: deleting ALL branch files after publishing a stale fold
    * silently dropped a racing commitToBranch's rows). */
  private def branchState(root: String, name: String)
      : (Int, Seq[String], Option[String], Seq[String],
         Seq[(Int, org.apache.hadoop.fs.Path)]) = {
    val cur = currentVersion(root)
    val base = branchesFor(root, cur).getOrElse(name,
      throw new IllegalArgumentException(
        s"time travel: no branch '$name' under $root" + {
          val bs = branchesFor(root, cur)
          if (bs.isEmpty) " (no branches exist)"
          else s" (branches: ${bs.keys.toSeq.sorted.mkString(", ")})"
        }))
    val (fs, _) = fsFor(root)
    var files = snapshotFiles(root, base)
    var schemaDdl: Option[String] = None
    val nrows = scala.collection.mutable.ArrayBuffer[String]()
    val consumed = branchCommits(root, name)
    consumed.foreach { case (_, f) =>
      val txt = readBytes(fs, f)
      requireFeaturesReadable(txt, s"branch $name of $root")
      val rm = parseArr(txt, "removed").toSet
      files = files.filterNot(rm) ++ parseArr(txt, "added")
      parseArr(txt, "schemav").headOption.foreach(d => schemaDdl = Some(d))
      nrows ++= parseArr(txt, "nrows")
    }
    (base, files, schemaDdl, nrows.toSeq, consumed)
  }

  /** APPEND `df` to a branch (commit-to-branch): stages into the shared
    * data directory (collision-free names; vacuum keeps branch-
    * referenced files) and claims the next BRANCH commit file — main's
    * generation counter never moves, main readers never see the rows.
    * `df` arrives LOGICAL and stores physically through the base's
    * column mapping, like every mapped write. Constraints validate
    * against the table's live set. Returns the branch sequence number. */
  def commitToBranch(s: SparkSession, root: String, name: String,
      df: DataFrame): Int = {
    // base-first merged mapping: base-era logical names keep resolving
    // across main-side renames, post-fork adds get their fresh physical
    // names (see branchColmap)
    val (_, phys) = writePrologue(s, latest(root), df, what = "branch appends",
      colmapAt = Some(branchColmapOfIn(_, name)))
    val added = stageFiles(s, root, phys).map(_.name)
    val nrows = added.map(f => s"$f|${footerRows(root, f)}")
    commitNamesToBranch(root, name, added, Nil, nrows, df.schema.toDDL)
  }

  /** Claim the next branch commit file — the shared landing half of
    * every branch write (append, staged SQL INSERT, branch DML). The
    * same optimistic claim discipline as main commits, on the branch's
    * own `b-<name>@<k>.json` sequence; `removed` entries retire files
    * from the BRANCH view only (r19 branch DML — main snapshots never
    * see branch commits at all). Returns the branch sequence number. */
  private def commitNamesToBranch(root: String, name: String,
      added: Seq[String], removed: Seq[String], nrows: Seq[String],
      schemaDdl: String, txn: Option[String] = None): Int = {
    val (fs, _) = fsFor(root)
    def render(k: Int, ts: Long) =
      s"""{"branch":${jsonArr(Seq(name))},"bseq":$k,"ts":["$ts"],""" +
        s""""added":${jsonArr(added)},"removed":${jsonArr(removed)},""" +
        s""""nrows":${jsonArr(nrows)}""" + jsonField("txn", txn.toSeq) +
        jsonField("schemav", Seq(schemaDdl)) + "}"
    var k = branchCommits(root, name).lastOption.map(_._1 + 1).getOrElse(0)
    val uid = java.util.UUID.randomUUID().toString.take(8)
    var committed = false
    while (!committed) {
      lockFor(root).synchronized {
        // a remove-carrying branch commit was planned against the
        // branch head it read — a racing branch write invalidates the
        // plan exactly like main's remove-conflict validation
        if (removed.nonEmpty) {
          val live = branchState(root, name)._2.toSet
          val gone = removed.filterNot(live)
          if (gone.nonEmpty)
            throw new java.util.ConcurrentModificationException(
              s"time travel: branch commit conflict on '$name' of $root " +
                s"— removed files ${gone.mkString(", ")} are not in the " +
                "branch head (a concurrent branch write retired them); " +
                "re-read the branch and re-plan")
        }
        val tmp = new org.apache.hadoop.fs.Path(s"${logDir(root)}/.b-$uid")
        writeBytes(fs, tmp, render(k, System.currentTimeMillis()))
        if (claimVersion(fs, tmp,
            new org.apache.hadoop.fs.Path(s"${logDir(root)}/b-$name@$k.json")))
          committed = true
        else {
          fs.delete(tmp, false)
          k = branchCommits(root, name).lastOption.map(_._1 + 1).getOrElse(0)
        }
      }
    }
    k
  }

  /** Land already-staged temp files as a BRANCH commit — the DSv2 sink
    * half of the WAP (write-audit-publish) SQL surface: `INSERT INTO
    * cat.`tbl@branch`` stages through the ordinary distributed writer
    * and the commit claims a branch sequence number instead of a main
    * generation, so main readers never see the rows until `graft_ff`
    * publishes them (r18 verdict #2). Validation mirrors
    * [[commitStagedFiles]]: temps carry PHYSICAL names (the writer
    * renamed through the branch mapping); constraints check the
    * logical projection. */
  private[graft] def commitStagedToBranch(s: SparkSession, root: String,
      name: String, temps: Seq[String], schemaDdl: String,
      txn: Option[String] = None): Int = {
    val base = branchesFor(root, currentVersion(root)).getOrElse(name,
      throw new IllegalArgumentException(
        s"time travel: no branch '$name' under $root"))
    requireNotIdentity(root, "branch appends")
    validateSchema(s, root,
      org.apache.spark.sql.types.StructType.fromDDL(schemaDdl))
    if (temps.nonEmpty) {
      val cm = branchColmap(root, base)
      val raw = s.read.parquet(temps: _*)
      val logical =
        if (cm.isEmpty) raw
        else {
          val inv = cm.map(_.swap)
          raw.select(raw.columns.toSeq
            .map(c => col(c).as(inv.getOrElse(c, c))): _*)
        }
      validateConstraints(s, root, logical)
    }
    val (fs, _) = fsFor(root)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/data"))
    val uid = java.util.UUID.randomUUID().toString.take(8)
    val added = temps.sorted.zipWithIndex.map { case (t, i) =>
      val fin = s"$uid-w$i.parquet"
      require(fs.rename(new org.apache.hadoop.fs.Path(t),
          new org.apache.hadoop.fs.Path(s"$root/data/$fin")),
        s"time travel: staged rename of $t failed")
      fin
    }
    val nrows = added.map(f => s"$f|${footerRows(root, f)}")
    commitNamesToBranch(root, name, added, Nil, nrows, schemaDdl, txn)
  }

  /** Identity tables assign ids against the MAIN high-water mark at
    * commit time — a branch append would bake ids that later main
    * commits could reuse before the publish lands. Refuse loudly until
    * branch-scoped id reservation exists (branch DML is fine: the
    * copy-on-write rewrites carry EXISTING ids). */
  private def requireNotIdentity(root: String, what: String): Unit =
    requireNotIdentityIn(root, latest(root).props, what)

  private def requireNotIdentityIn(root: String, props: Map[String, String],
      what: String): Unit =
    if (props.get(IdentityColKey).exists(_.nonEmpty))
      throw new UnsupportedOperationException(
        s"time travel: $what on identity-column tables are not " +
          "supported — ids are assigned against main's high-water " +
          "mark; insert on main, or drop the identity property")

  /** The branch's resolved appId → newest-txn-version map — branch
    * commits carry their own txn records (the streaming WAP epoch
    * guard). Branch commits never expire out from under a live branch
    * (drop/publish delete them WITH the ref), so no checkpoint fold is
    * needed; after a publish the ref is gone and a replayed epoch
    * refuses on the missing branch — loud, never a duplicate. */
  private def branchTxns(root: String, name: String): Map[String, Long] = {
    val (fs, _) = fsFor(root)
    branchCommits(root, name).foldLeft(Map.empty[String, Long]) {
      case (m, (_, f)) =>
        parseArr(readBytes(fs, f), "txn").foldLeft(m) { (acc, line) =>
          line.split('|') match {
            case Array(a, v) =>
              try acc.updated(a, math.max(v.toLong,
                acc.getOrElse(a, Long.MinValue)))
              catch { case _: NumberFormatException => acc }
            case _ => acc
          }
        }
    }
  }

  /** IDEMPOTENT branch commit of staged temps (the streaming WAP
    * sink's epoch contract — the branch-side [[commitStagedTxn]]): a
    * replayed epoch deletes its temps and lands nothing. */
  private[graft] def commitStagedToBranchTxn(s: SparkSession, root: String,
      name: String, temps: Seq[String], schemaDdl: String,
      appId: String, version: Long): Int = {
    require(!appId.contains("|"), "txn appId must not contain '|'")
    lockFor(root).synchronized {
      if (branchTxns(root, name).get(appId).exists(_ >= version)) {
        val (fs, _) = fsFor(root)
        temps.foreach(t =>
          fs.delete(new org.apache.hadoop.fs.Path(t), false))
        branchCommits(root, name).lastOption.map(_._1).getOrElse(-1)
      } else commitStagedToBranch(s, root, name, temps, schemaDdl,
        txn = Some(s"$appId|$version"))
    }
  }

  /** Read the branch HEAD: the base snapshot plus the branch commits'
    * delta, under the branch's latest logical schema — deletion vectors
    * in force at the BASE still mask the base's files. Main's later
    * generations are invisible (that is the point of the fork). */
  def readBranch(s: SparkSession, root: String, name: String): DataFrame =
    readBranchSubset(s, root, name, None)

  /** [[readBranch]] restricted to `only` head files when given — the
    * read half branch DML shares: same base-DV application, default
    * fill, and logical projection, over just the touched files. */
  private def readBranchSubset(s: SparkSession, root: String,
      name: String, only: Option[Seq[String]]): DataFrame = {
    val (base, headFiles, schemaDdl, _, _) = branchState(root, name)
    val files = only match {
      case Some(sel) =>
        val head = headFiles.toSet
        val missing = sel.filterNot(head)
        require(missing.isEmpty,
          s"time travel: branch '$name' subset read names files outside " +
            s"the head: ${missing.mkString(", ")}")
        sel
      case None => headFiles
    }
    val logical = schemaDdl
      .map(org.apache.spark.sql.types.StructType.fromDDL)
      .orElse(schemaAsOf(root, base))
    // base-first merged mapping — the commitToBranch discipline (see
    // branchColmap: either single-generation resolution nulls a column)
    val cmap = branchColmap(root, base)
    val physSchema = logical.map(sc =>
      org.apache.spark.sql.types.StructType(
        sc.map(f => f.copy(name = cmap.getOrElse(f.name, f.name)))))
    // a branch forked at an empty/truncated snapshot with no branch
    // commits has ZERO files — answer an empty frame under the resolved
    // schema, mirroring readAsOfMapped's empty branch (the bare
    // parquet reader would throw unable-to-infer-schema)
    if (files.isEmpty) {
      val sc = physSchema.orElse(logical).getOrElse(
        throw new IllegalArgumentException(
          s"time travel: branch '$name' of $root has no files and no " +
            "logged schema — nothing to read"))
      val empty = s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row], sc)
      return logical match {
        case Some(l) if cmap.nonEmpty =>
          empty.select(l.map(f =>
            col(cmap.getOrElse(f.name, f.name)).as(f.name)): _*)
        case _ => empty
      }
    }
    val reader = schemaReader(s, root, physSchema)
    // recorded column DEFAULTS fill per footer group, exactly like
    // every other read path: a raw read would serve NULL on
    // pre-default base files where graft_asof serves the default
    val baseSnap = snapshot(root, base)
    val raw = defaultFillGroupsIn(baseSnap, files)
      .map { case (fls, fills) =>
        fills.foldLeft(readFilesWithDvs(s, baseSnap, fls, reader)) {
          case (d, (c, v)) => d.withColumn(c, v)
        }
      }.reduce(_ unionByName _)
    logical match {
      case Some(sc) if cmap.nonEmpty =>
        raw.select(sc.map(f =>
          col(cmap.getOrElse(f.name, f.name)).as(f.name)): _*)
      case _ => raw
    }
  }

  /** FAST-FORWARD publish (Iceberg's fastForward): land the branch's
    * whole delta on main as ONE atomic commit and drop the ref — legal
    * only while main still sits at the branch's base generation, so the
    * publish is a pure extension of history (an advanced main refuses
    * loudly; re-create the branch from the new head to rebase). The
    * claim is version-pinned ([[commitNames]] expectVersion): a racing
    * main commit turns the publish into an explicit conflict, never a
    * silent merge. The ref clears IN the publish commit (one atomic
    * step); branch commit files are dropped after. Returns the new main
    * generation. */
  def fastForward(s: SparkSession, root: String, name: String): Int = {
    val (base, files, schemaDdl, nrows, consumed) = branchState(root, name)
    val baseFiles = snapshotFiles(root, base).toSet
    val adds = files.filterNot(baseFiles)
    val removes = baseFiles -- files.toSet
    val addSet = adds.toSet
    val nrowLines = nrows.filter(l => addSet(l.takeWhile(_ != '|')))
    val v = lockFor(root).synchronized {
      // the fold above ran OUTSIDE the lock: a commitToBranch landing
      // since would be EXCLUDED from the published delta — re-list under
      // the lock and refuse loudly rather than publish a stale fold
      // (r18 ADVICE: the old path then deleted the racer's commit file,
      // silently losing its staged rows)
      val nowSeqs = branchCommits(root, name).map(_._1)
      if (nowSeqs != consumed.map(_._1))
        throw new java.util.ConcurrentModificationException(
          s"time travel: branch '$name' of $root advanced while the " +
            "fast-forward was being planned (commits " +
            s"${consumed.map(_._1).mkString(",")} planned vs " +
            s"${nowSeqs.mkString(",")} now) — re-run graft_ff to " +
            "publish the full branch state")
      // fast-forward legality: main's DATA STATE is still the branch's
      // base — metadata-only movement (the ref commit itself, tags,
      // properties, checkpoints) is fine, but any change to the file
      // set, DV state, schema, mapping, or constraints means the branch
      // rows were staged against a stale world: refuse loudly
      val cur = currentVersion(root)
      val unchanged =
        snapshotFiles(root, cur).toSet == baseFiles &&
          dvsFor(root, cur) == dvsFor(root, base) &&
          schemaAsOf(root, cur).map(_.toDDL) ==
            schemaAsOf(root, base).map(_.toDDL) &&
          colmapAsOf(root, cur) == colmapAsOf(root, base) &&
          constraintsAsOf(root, cur) == constraintsAsOf(root, base)
      require(unchanged,
        s"time travel: cannot fast-forward branch '$name' — main's data " +
          s"state moved past the branch base $base (main is at $cur); " +
          "re-create the branch from the current head to rebase")
      commitNames(s, root, adds, removes.toSeq.sorted,
        schemaDdl = schemaDdl.orElse(schemaAsOf(root, base).map(_.toDDL)),
        nrowsIn = if (nrowLines.size == adds.size) Some(nrowLines) else None,
        props = Seq(s"graft.branch.$name|"),
        flags = Seq("branch-publish"),
        expectVersion = Some(cur + 1))
    }
    // delete exactly the commits the publish folded — a cross-process
    // commitToBranch that slips in after the locked re-list keeps its
    // file as loud evidence (the ref is gone, so createBranch refuses
    // the leftover rather than silently inheriting it)
    val (fs, _) = fsFor(root)
    consumed.foreach { case (_, f) => fs.delete(f, false) }
    v
  }

  /** CHERRY-PICK (Iceberg's cherrypick_snapshot): apply ONE branch
    * commit onto the CURRENT main head — the partial-publish escape
    * hatch when main advanced past the base and fast-forward refuses.
    * Legal for APPEND-ONLY branch commits (a remove names base files
    * whose world moved); the picked files must not already be in the
    * snapshot (re-picking would duplicate rows — refused loudly), and
    * the picked ROWS re-validate against the constraints in force NOW
    * (one scan of the picked files — a CHECK added since the branch
    * commit must still hold). Zero data bytes move: the staged files
    * are re-referenced, not copied. The branch stays live (pick the
    * rest later, or drop it). Returns the new main generation. */
  def cherryPick(s: SparkSession, root: String, name: String,
      k: Int): Int = lockFor(root).synchronized {
    val cur = currentVersion(root)
    require(branchesFor(root, cur).contains(name),
      s"time travel: no branch '$name' under $root")
    val cf = branchCommits(root, name).collectFirst {
      case (`k`, f) => f
    }.getOrElse(throw new IllegalArgumentException(
      s"time travel: branch '$name' has no commit $k (commits: " +
        s"${branchCommits(root, name).map(_._1).mkString(", ")})"))
    val (fs, _) = fsFor(root)
    val txt = readBytes(fs, cf)
    requireFeaturesReadable(txt, s"branch commit $name/$k of $root")
    val added = parseArr(txt, "added")
    require(parseArr(txt, "removed").isEmpty,
      s"time travel: branch commit $name/$k removes files — cherry-pick " +
        "serves append-only commits; fast-forward or rebase instead")
    if (added.isEmpty) return cur
    // EXACTLY-ONCE pick: the pick records a txn keyed by the staged
    // content's (globally unique, uid-prefixed) first file name, and a
    // re-pick refuses even after a compaction retired the picked files
    // from the live set (the old live-set guard alone passed then and
    // DUPLICATED every picked row — the packed outputs carry them).
    // Checkpoint-folded like every txn, so retention keeps the guard.
    // Same-JVM racers are excluded by lockFor (the commitTxn contract);
    // the live-set check below stays as the fast duplicate tell.
    val pickId = s"cherrypick-${added.head}"
    require(lastTxnVersion(root, pickId).isEmpty,
      s"time travel: branch commit $name/$k was already cherry-picked — " +
        "its rows live on in the snapshot even if a compaction retired " +
        "the original files. If a RESTORE rolled the pick back, re-stage " +
        "the rows with a fresh commitToBranch (the guard is keyed by the " +
        "staged content, and a fresh stage gets fresh names)")
    val live = snapshotFiles(root, cur).toSet
    val dup = added.filter(live)
    require(dup.isEmpty,
      s"time travel: cherry-pick of $name/$k would re-add files already " +
        s"in the snapshot (${dup.mkString(", ")}) — already picked?")
    // re-validate the picked rows against the constraints in force NOW
    // (the branch commit predates any constraint added since) — through
    // the current mapping AND with recorded defaults filled, like every
    // staged validation (a defaulted CHECK must not pass vacuously on
    // the raw NULLs of pre-default branch files)
    validateConstraints(s, root,
      toLogicalFrame(root, cur, readFilesFilledDvs(s, root, cur, added)))
    val addedSet = added.toSet
    val nrows = parseArr(txt, "nrows")
      .filter(l => addedSet(l.takeWhile(_ != '|')))
    commitNames(s, root, added, Nil,
      nrowsIn = if (nrows.size == added.size) Some(nrows) else None,
      // the pick must NOT regress the head schema to the branch-era
      // one: main may have evolved since the branch commit, and
      // schemaAsOf resolves the newest logged schema — log the CURRENT
      // schema; the picked files' extra/missing columns ride the usual
      // schema-on-read rules (projected away / null-filled)
      schemaDdl = schemaAsOf(root, cur).map(_.toDDL),
      txn = Some(s"$pickId|0"),
      flags = Seq("cherry-pick"))
  }

  /** Row-level DELETE on a BRANCH head (r18 verdict #3 — the most
    * common WAP audit outcome is fixing the staged data): copy-on-write
    * over the touched head files — base files read through the base's
    * deletion vectors and defaults, kept rows re-stage under the branch
    * mapping, and ONE branch commit retires the touched files from the
    * BRANCH VIEW only. Main never sees any of it; fast-forward later
    * publishes the adds+removes as one atomic main commit (the FF fold
    * already carries removes). Pruning uses the base generation's
    * per-file stats; branch-staged files carry no stats and rewrite
    * conservatively. Returns the branch sequence number, or -1 when no
    * file overlaps. */
  def deleteFromBranchWhere(s: SparkSession, root: String, name: String,
      statCol: String, lo: Long, hi: Long): Int = {
    requireFeaturesWritable(root)
    val (base, files, schemaDdl, _, _) = branchState(root, name)
    val cm = branchColmap(root, base)
    val phys = cm.getOrElse(statCol, statCol)
    val stats = statsFor(root, base)
    val touched = files.filter { f =>
      stats.get((f, phys)) match {
        case Some((fLo, fHi)) => fHi >= lo && fLo <= hi
        case None => true // stat-less (incl. branch-staged): must scan
      }
    }
    if (touched.isEmpty) return -1
    val keptL = readBranchSubset(s, root, name, Some(touched))
      .filter(!col(statCol).between(lo, hi))
    val added = stageFiles(s, root, toPhysicalFrameCm(cm, keptL)).map(_.name)
    val nrows = added.map(f => s"$f|${footerRows(root, f)}")
    val ddl = schemaDdl.getOrElse(
      schemaAsOf(root, base).map(_.toDDL).getOrElse(keptL.schema.toDDL))
    commitNamesToBranch(root, name, added, touched, nrows, ddl)
  }

  /** Row-level UPDATE on a BRANCH head — [[deleteFromBranchWhere]]'s
    * copy-on-write shape with the assignment folded in as a codegen'd
    * CASE; CHECK constraints re-validate the rewrite (an update can
    * break one). Returns the branch sequence number, or -1 when no
    * file overlaps. */
  def updateBranchWhere(s: SparkSession, root: String, name: String,
      statCol: String, lo: Long, hi: Long, setCol: String,
      setTo: org.apache.spark.sql.Column): Int = {
    requireFeaturesWritable(root)
    val (base, files, schemaDdl, _, _) = branchState(root, name)
    val cm = branchColmap(root, base)
    val phys = cm.getOrElse(statCol, statCol)
    val stats = statsFor(root, base)
    val touched = files.filter { f =>
      stats.get((f, phys)) match {
        case Some((fLo, fHi)) => fHi >= lo && fLo <= hi
        case None => true
      }
    }
    if (touched.isEmpty) return -1
    val band = col(statCol).between(lo, hi)
    val rewritten = readBranchSubset(s, root, name, Some(touched))
      .withColumn(setCol, when(band, setTo).otherwise(col(setCol)))
    validateConstraints(s, root, rewritten)
    val added = stageFiles(s, root, toPhysicalFrameCm(cm, rewritten)).map(_.name)
    val nrows = added.map(f => s"$f|${footerRows(root, f)}")
    val ddl = schemaDdl.getOrElse(
      schemaAsOf(root, base).map(_.toDDL).getOrElse(rewritten.schema.toDDL))
    commitNamesToBranch(root, name, added, touched, nrows, ddl)
  }

  /** REBASE a branch onto the CURRENT main head (r18 verdict #3): the
    * ordered cherry-pick of every not-yet-picked append-only branch
    * commit — the recovery loop users hand-rolled when main advanced
    * past the base and fast-forward refused. Exactly-once per commit
    * via cherry-pick's content-keyed txn guard, so a crashed rebase
    * re-runs safely and lands each commit once. Remove-carrying branch
    * commits (branch DML) refuse loudly — their removes name base
    * files whose world moved; re-create the branch from the new head
    * instead. The branch stays live (drop it once published). Returns
    * the final main generation. */
  def rebase(s: SparkSession, root: String, name: String): Int = {
    val cur = currentVersion(root)
    require(branchesFor(root, cur).contains(name),
      s"time travel: no branch '$name' under $root")
    val (fs, _) = fsFor(root)
    val commits = branchCommits(root, name)
    // refuse removes UP FRONT: a partial rebase that stops midway at
    // the first remove-commit would be half-published
    commits.foreach { case (k, f) =>
      require(parseArr(readBytes(fs, f), "removed").isEmpty,
        s"time travel: branch commit $name/$k removes files — rebase " +
          "serves append-only branches; re-create the branch from the " +
          "current head and re-apply the DML there")
    }
    var v = cur
    commits.foreach { case (k, f) =>
      val added = parseArr(readBytes(fs, f), "added")
      // skip commits a prior (crashed) rebase already landed
      if (added.nonEmpty &&
          lastTxnVersion(root, s"cherrypick-${added.head}").isEmpty)
        v = cherryPick(s, root, name, k)
    }
    v
  }

  /** `graft_cherrypick(root, name, k)` — cherry-pick from SQL (lazy).
    * Returns (version, files_added). */
  def cherryPickPlan(exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(exprs.length == 3, "usage: graft_cherrypick(root, name, k)")
    val root = litStr(exprs(0), "root")
    val name = litStr(exprs(1), "name")
    val k = litInt(exprs(2), "k")
    maintPlan("cherrypick", Seq("version", "files_added")) {
      val s = SparkSession.active
      val before = snapshotFiles(root, currentVersion(root)).size
      val v = cherryPick(s, root, name, k)
      Seq(v.toLong, (snapshotFiles(root, v).size - before).toLong)
    }
  }

  /** `graft_branch(root, name, gen)` — create a branch from SQL (lazy
    * maintenance verb). Returns (version, base_gen). */
  def branchPlan(exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(exprs.length == 3, "usage: graft_branch(root, name, gen)")
    val root = litStr(exprs(0), "root")
    val name = litStr(exprs(1), "name")
    val gen = litInt(exprs(2), "gen")
    maintPlan("branch", Seq("version", "base_gen")) {
      Seq(createBranch(SparkSession.active, root, name, gen).toLong,
        gen.toLong)
    }
  }

  /** `graft_branch_drop(root, name)` — drop a branch (releases its
    * retention pin, deletes its commits). Returns the commit version. */
  def branchDropPlan(exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(exprs.length == 2, "usage: graft_branch_drop(root, name)")
    val root = litStr(exprs(0), "root")
    val name = litStr(exprs(1), "name")
    maintPlan("branch_drop", Seq("version")) {
      Seq(dropBranch(SparkSession.active, root, name).toLong)
    }
  }

  /** `graft_branches(root)` — live branches: name, base generation,
    * staged branch commits. Commit-log metadata only. */
  def branchesPlan(exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(exprs.length == 1, "usage: graft_branches(root)")
    val root = litStr(exprs(0), "root")
    val s = SparkSession.active
    import s.implicits._
    branchesFor(root, currentVersion(root)).toSeq.sorted
      .map { case (n, g) =>
        (n, g.toLong, branchCommits(root, n).size.toLong) }
      .toDF("branch", "base_gen", "n_commits").queryExecution.logical
  }

  /** `graft_branch_read(root, name)` — the branch head in FROM
    * position, like graft_asof for a generation. */
  def branchReadPlan(exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(exprs.length == 2, "usage: graft_branch_read(root, name)")
    readBranch(SparkSession.active, litStr(exprs(0), "root"),
      litStr(exprs(1), "name")).queryExecution.logical
  }

  /** `graft_ff(root, name)` — fast-forward publish from SQL (lazy:
    * EXPLAIN publishes nothing). Returns (version, files_added,
    * files_removed). */
  def ffPlan(exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(exprs.length == 2, "usage: graft_ff(root, name)")
    val root = litStr(exprs(0), "root")
    val name = litStr(exprs(1), "name")
    maintPlan("ff", Seq("version", "files_added", "files_removed")) {
      val s = SparkSession.active
      val before = snapshotFiles(root, currentVersion(root)).toSet
      val v = fastForward(s, root, name)
      val after = snapshotFiles(root, v).toSet
      Seq(v.toLong, (after -- before).size.toLong,
        (before -- after).size.toLong)
    }
  }

  /** `graft_analyze(root, 'c1,c2,…')` — ANALYZE-style per-file column
    * NDV sketches from SQL (lazy maintenance verb). Returns (version,
    * n_columns). */
  def analyzePlan(exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(exprs.length == 2, "usage: graft_analyze(root, 'c1,c2,…')")
    val root = litStr(exprs(0), "root")
    val cols = litStr(exprs(1), "cols").split(',').map(_.trim)
      .filter(_.nonEmpty).toSeq
    maintPlan("analyze", Seq("version", "n_columns")) {
      Seq(analyzeNdv(SparkSession.active, root, cols).toLong,
        cols.size.toLong)
    }
  }

  /** `graft_rebase(root, name)` — land every unpicked append-only
    * branch commit on the CURRENT main head (lazy). Returns (version,
    * commits_landed). */
  def rebasePlan(exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(exprs.length == 2, "usage: graft_rebase(root, name)")
    val root = litStr(exprs(0), "root")
    val name = litStr(exprs(1), "name")
    maintPlan("rebase", Seq("version", "commits_landed")) {
      val s = SparkSession.active
      val before = currentVersion(root)
      val v = rebase(s, root, name)
      Seq(v.toLong, (v - before).toLong)
    }
  }

  /** `graft_branch_delete(root, name, col, lo, hi)` — row-level DELETE
    * on a branch head from SQL (lazy). Returns (bseq, head_files: the
    * branch head's file count AFTER the delete). */
  def branchDeletePlan(exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(exprs.length == 5,
      "usage: graft_branch_delete(root, name, col, lo, hi)")
    val root = litStr(exprs(0), "root")
    val name = litStr(exprs(1), "name")
    val c = litStr(exprs(2), "col")
    val lo = litLong(exprs(3), "lo")
    val hi = litLong(exprs(4), "hi")
    maintPlan("branch_delete", Seq("bseq", "head_files")) {
      val s = SparkSession.active
      val k = deleteFromBranchWhere(s, root, name, c, lo, hi)
      Seq(k.toLong, branchState(root, name)._2.size.toLong)
    }
  }

  // ---- column mapping (Delta's columnMapping: rename/drop as metadata) --

  /** The LOGICAL → PHYSICAL column-name mapping in force at `gen`
    * (Delta's columnMapping, name mode): `logical|physical` lines, last
    * write per logical name winning, `logical|-` clearing one; resolved
    * from the newest checkpoint ≤ gen + the tail commits like
    * [[propsAsOf]]. Unmapped fields are identity — a table that never
    * renamed anything has an empty map and pays nothing. */
  def colmapAsOf(root: String, gen: Int): Map[String, String] =
    snapshot(root, gen).colmap

  private def logicalSchemaAt(root: String, gen: Int)
      : org.apache.spark.sql.types.StructType =
    logicalSchemaOf(snapshot(root, gen))

  private def logicalSchemaOf(snap: Snapshot)
      : org.apache.spark.sql.types.StructType =
    snap.schema.getOrElse(throw new IllegalStateException(
      s"time travel: no logged schema under ${snap.root} at generation ${snap.gen} — " +
        "column mapping needs one (every commit since schema logging " +
        "writes it)"))

  /** RENAME a column as a METADATA-ONLY commit (Delta's ALTER TABLE
    * RENAME COLUMN under column mapping): not one data byte moves — the
    * parquet files keep the old PHYSICAL name, the logged schema gains
    * the new LOGICAL name, and a mapping line ties them together for
    * every later read ([[readAsOfMapped]]) and write ([[commit]]).
    * At 100 TB this turns a schema refactor from a full-table rewrite
    * into one commit write; older snapshots keep the old name, because
    * the mapping is versioned with everything else in the log. */
  def renameColumn(s: SparkSession, root: String, oldName: String,
      newName: String): Int = {
    require(!oldName.contains("|") && !newName.contains("|"),
      "time travel: column names must not contain '|'")
    val gen = currentVersion(root)
    require(gen >= 0, s"time travel: cannot rename on empty table $root")
    val logical = logicalSchemaAt(root, gen)
    require(logical.fieldNames.contains(oldName),
      s"time travel: no column $oldName under $root")
    require(!logical.fieldNames.contains(newName),
      s"time travel: column $newName already exists under $root")
    val phys = colmapAsOf(root, gen).getOrElse(oldName, oldName)
    val renamed = org.apache.spark.sql.types.StructType(logical.map(f =>
      if (f.name == oldName) f.copy(name = newName) else f))
    commitNames(s, root, Nil, Nil, flags = Seq("colmap"),
      schemaDdl = Some(renamed.toDDL),
      colmap = Seq(s"$newName|$phys", s"$oldName|-"))
  }

  /** DROP a column as a METADATA-ONLY commit: the physical bytes stay in
    * the files (unreferenced — the next full rewrite sheds them), the
    * logical schema loses the field, reads stop projecting it. */
  def dropColumnMapped(s: SparkSession, root: String, name: String): Int = {
    val gen = currentVersion(root)
    require(gen >= 0, s"time travel: cannot drop on empty table $root")
    val logical = logicalSchemaAt(root, gen)
    require(logical.fieldNames.contains(name),
      s"time travel: no column $name under $root")
    val narrowed =
      org.apache.spark.sql.types.StructType(logical.filterNot(_.name == name))
    require(narrowed.nonEmpty, "time travel: cannot drop the last column")
    commitNames(s, root, Nil, Nil, flags = Seq("colmap"),
      schemaDdl = Some(narrowed.toDDL), colmap = Seq(s"$name|-"))
  }

  /** The legal type widenings (Delta's type-widening table feature):
    * value-preserving promotions only — every narrow value maps to the
    * SAME number under the wide type, so old files stay bit-correct
    * without touching a data byte. Narrowing refuses loudly. */
  private val Widenings: Set[(org.apache.spark.sql.types.DataType,
      org.apache.spark.sql.types.DataType)] = {
    import org.apache.spark.sql.types._
    Set((ShortType, IntegerType), (ShortType, LongType),
      (IntegerType, LongType), (FloatType, DoubleType))
  }

  /** ALTER TABLE ALTER COLUMN … TYPE as a METADATA-ONLY commit (Delta's
    * type widening): the logged schema carries the wide type, a
    * `graft.widened.<phys>` property marks the column, and zero data
    * bytes move — files written before the widening keep their narrow
    * parquet type and every reader up-converts per file (the DSv2
    * record reader branches on the FILE's primitive; the library path
    * rides Spark's native parquet widening). Footer-aggregate pushdown
    * REFUSES on widened columns — old footers carry narrow-typed
    * statistics objects — and falls back to the row scan, the same
    * conservative discipline column defaults use. Older snapshots keep
    * the narrow type (`VERSION AS OF` reads its own generation's
    * schema). At 100 TB this turns "my int key overflowed" from a
    * full-table rewrite into one commit write. */
  def widenColumnType(s: SparkSession, root: String, name: String,
      newTypeDdl: String): Int = {
    val gen = currentVersion(root)
    require(gen >= 0, s"time travel: cannot alter on empty table $root")
    val logical = logicalSchemaAt(root, gen)
    require(logical.fieldNames.contains(name),
      s"time travel: no column $name under $root")
    val oldDt = logical(logical.fieldIndex(name)).dataType
    val newDt = org.apache.spark.sql.types.DataType.fromDDL(newTypeDdl)
    require(Widenings((oldDt, newDt)),
      s"time travel: ALTER COLUMN $name ${oldDt.sql} -> ${newDt.sql} is " +
        "not a supported widening (smallint->int/bigint, int->bigint, " +
        "float->double)")
    val phys = colmapAsOf(root, gen).getOrElse(name, name)
    val widened = org.apache.spark.sql.types.StructType(logical.map(f =>
      if (f.name == name) f.copy(dataType = newDt) else f))
    commitNames(s, root, Nil, Nil,
      schemaDdl = Some(widened.toDDL),
      props = Seq(s"graft.widened.$phys|${oldDt.sql}"))
  }

  /** ADD a column to a mapped table — under a FRESH physical name, so a
    * re-added logical name NEVER resurrects a dropped column's old bytes
    * (the Delta column-mapping guarantee): no file has ever written the
    * new physical name, so every existing row null-fills it, and only
    * appends after this commit can carry values.
    *
    * With `default` (r14 verdict #3, Delta's `ADD COLUMN … DEFAULT`):
    * the rendered literal is recorded as a `graft.default.<phys>` table
    * property in the SAME commit, and every file that PREDATES the
    * column (its parquet schema lacks the physical field) reads the
    * default instead of NULL through the DSv2 snapshot scan —
    * post-evolution writes store values (including explicit NULLs,
    * which stay NULL: a present-but-null field is stored data, never
    * re-defaulted). Metadata-only: zero data bytes move. */
  def addColumnMapped(s: SparkSession, root: String, name: String,
      typeDdl: String, default: Option[String] = None): Int = {
    require(!name.contains("|"),
      "time travel: column names must not contain '|'")
    default.foreach(v => require(!v.contains("|"),
      "time travel: a default value must not contain '|' — the log's " +
        "props-line separator"))
    val gen = currentVersion(root)
    require(gen >= 0, s"time travel: cannot add on empty table $root")
    val logical = logicalSchemaAt(root, gen)
    require(!logical.fieldNames.contains(name),
      s"time travel: column $name already exists under $root")
    val dt = org.apache.spark.sql.types.DataType.fromDDL(typeDdl)
    val phys = s"${name}_p${java.util.UUID.randomUUID().toString.take(8)}"
    val widened = org.apache.spark.sql.types.StructType(
      logical :+ org.apache.spark.sql.types.StructField(name, dt))
    commitNames(s, root, Nil, Nil, flags = Seq("colmap"),
      schemaDdl = Some(widened.toDDL), colmap = Seq(s"$name|$phys"),
      props = default.map(v => s"graft.default.$phys|$v").toSeq)
  }

  /** AS-OF read through the mapping: parquet is scanned under the
    * PHYSICAL read schema (files that predate an added column null-fill
    * its never-written physical name — unless the add recorded a
    * DEFAULT, which fills per file group exactly like the DSv2 snapshot
    * scan; r18, aligning the two read paths), deletion vectors apply on
    * the physical frame, and one final projection renames to the
    * LOGICAL schema in force at `gen` — so every snapshot presents its
    * own generation's names, stably, without touching a data byte. */
  def readAsOfMapped(s: SparkSession, root: String, gen: Int): DataFrame = {
    val files = snapshotFiles(root, gen)
    if (files.isEmpty) {
      val logical = logicalSchemaAt(root, gen)
      val cmap = colmapAsOf(root, gen)
      val physSchema = org.apache.spark.sql.types.StructType(logical.map(f =>
        f.copy(name = cmap.getOrElse(f.name, f.name))))
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        physSchema).select(logical.map(f =>
        col(cmap.getOrElse(f.name, f.name)).as(f.name)): _*)
    } else toLogicalFrame(root, gen, readFilesFilledDvs(s, root, gen, files))
  }

  private def cdcDir(root: String) = s"$root/cdc"

  /** Stage a change frame (table columns + `_change_type`) and publish
    * its files under `<root>/cdc/` with commit-uid names; returns the
    * committed names for the commit's `cdc` array. The write is
    * distributed and sized like any other commit; when CDF is off this
    * is never called — zero overhead (Delta's change-file discipline:
    * DML pays one extra write of the AFFECTED rows only, when enabled). */
  private def writeCdcFiles(s: SparkSession, root: String,
      changes: DataFrame): Seq[String] = {
    val stage = s"$root/stage-cdc-${java.util.UUID.randomUUID()}"
    tableWriter(changes.write).mode("overwrite").parquet(stage)
    val uid = java.util.UUID.randomUUID().toString.take(8)
    val (fs, _) = fsFor(root)
    fs.mkdirs(new org.apache.hadoop.fs.Path(cdcDir(root)))
    val named = fs.listStatus(new org.apache.hadoop.fs.Path(stage))
      .map(_.getPath).filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName)
      .map { f =>
        val name = s"$uid-${f.getName}"
        require(fs.rename(f,
            new org.apache.hadoop.fs.Path(s"${cdcDir(root)}/$name")),
          s"time travel: cdc staging rename of $f failed")
        name
      }.toSeq
    fs.delete(new org.apache.hadoop.fs.Path(stage), true)
    named
  }

  /** The files backing the row-level feed over `(fromGen, toGen]`, per
    * commit: (absolute path, isChangeFile, version). Plain appends
    * contribute their data files (the reader constant-fills
    * `_change_type = insert`); DML commits contribute ONLY their change
    * files; nodata/metadata commits nothing; a CDF-off rewrite fails
    * loudly. The planning backbone the DSv2 source shares with
    * [[readRowChanges]]. */
  private[graft] def rowChangeFiles(root: String, fromGen: Int, toGen: Int)
      : Seq[(String, Boolean, Int)] = {
    val snap = snapshot(root, toGen)
    require(snap.commits.exists(_._1 == toGen) && fromGen <= toGen,
      s"time travel: bad change range ($fromGen, $toGen] under $root")
    changeRange(snap, fromGen, s"row change feed ($fromGen, $toGen] of $root")
      .flatMap { case (v, added, removed, dvs, cdc) =>
        if (cdc.nonEmpty) cdc.map(n => (s"${cdcDir(root)}/$n", true, v))
        else if (removed.nonEmpty || dvs.nonEmpty)
          throw new IllegalArgumentException(
            s"time travel: commit $v in ($fromGen, $toGen] rewrote or " +
              "row-deleted without change files (CDF was not enabled " +
              "when it ran) — row-level changes are not reconstructible; " +
              "diff snapshots instead")
        else added.map(f => (dataPath(root, f), false, v))
      }
  }

  /** ROW-LEVEL change feed (Delta's `table_changes` with `_change_type`):
    * every row the commits in `(fromGen, toGen]` inserted, deleted, or
    * updated, tagged `_change_type` ∈ {insert, delete, update_preimage,
    * update_postimage} and `_commit_version`. Plain appends read their
    * added files as inserts; DML commits (delete/update/merge/DV-delete)
    * read ONLY their write-time change files — their physical adds and
    * removes are file reorganization, not row changes. `nodata`
    * compactions and metadata commits contribute nothing. A rewrite
    * commit with NO change files (CDF was off when it ran) is not
    * row-reconstructible and fails loudly — same contract as
    * [[readChangesSince]]. The scan reads exactly the range's added +
    * change files: at 100 TB an incremental consumer pays for the
    * delta's bytes, never the table's. */
  def readRowChanges(s: SparkSession, root: String,
      fromGen: Int, toGen: Int): DataFrame = {
    // one frame per commit: its change files, or its appended data
    // files as inserts; metadata-only commits contribute none
    val frames = rowChangeFiles(root, fromGen, toGen).groupBy(_._3).toSeq
      .sortBy(_._1).map { case (v, fls) =>
        val df = s.read.parquet(fls.map(_._1): _*)
        (if (fls.head._2) df else df.withColumn("_change_type", lit("insert")))
          .withColumn("_commit_version", lit(v))
      }
    require(frames.nonEmpty,
      s"time travel: range ($fromGen, $toGen] has no row changes")
    val raw = frames.reduce(_.unionByName(_, allowMissingColumns = true))
    // Column-mapped tables (r14 verdict #7): every frame carries PHYSICAL
    // names — data files by construction, and change files too (legacy
    // ones were written while the colmap was empty, when logical ==
    // physical; r17 DML writes them through the mapping — physical
    // names are stable across renames either way). One projection to
    // the logical schema in force at `toGen`
    // presents the whole range under the names the caller's generation
    // uses — same discipline as [[readAsOfMapped]]. A logical column whose
    // physical name no frame carries (added after every file in range)
    // null-fills, like the snapshot read of a pre-evolution file.
    val cmap = colmapAsOf(root, toGen)
    if (cmap.isEmpty) raw
    else {
      val present = raw.columns.toSet
      val mapped = logicalSchemaAt(root, toGen).map { f =>
        val phys = cmap.getOrElse(f.name, f.name)
        if (present.contains(phys)) col(phys).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }
      raw.select(mapped ++ Seq(col("_change_type"),
        col("_commit_version")): _*)
    }
  }

  /** OPTIMIZE: bin-pack the current snapshot into ~`targetFiles` files in
    * a `nodata`-flagged commit (Delta's dataChange=false) — the table's
    * rows are untouched, so change feeds SKIP this commit instead of
    * refusing the range, and concurrent readers of old generations keep
    * their files (vacuum never touches committed history). The small-file
    * compaction a streaming ingest accumulates toward, as a log-native
    * commit. Returns the committed version; no-op (current version) when
    * the table is already within the target. */
  /** Land a NO-DATA rewrite (compaction/purge): stage the PHYSICAL
    * frame and log the LOGICAL schema in force — the pair a
    * column-mapped table needs. The old `commit(readAsOf(...))` shape
    * read the logical schema over physical files (NULLing every
    * renamed/added column into the rewrite) and then logged the raw
    * frame's schema over the logical one — silent data loss behind
    * `graft_optimize` on any evolved table (r17). Rows are unchanged by
    * contract, so constraints/enforcement need no re-validation. */
  private[graft] def commitNoData(s: SparkSession, root: String, gen: Int,
      physDf: DataFrame, removed: Seq[String]): Int =
    commitNoDataIn(s, snapshot(root, gen), physDf, removed)

  private def commitNoDataIn(s: SparkSession, snap: Snapshot,
      physDf: DataFrame, removed: Seq[String]): Int = {
    // the rewrite's rows were computed from generation `gen`'s DV state:
    // a DV-only commit (merge-on-read DELETE/UPDATE) landing between that
    // read and this claim would otherwise be silently erased — the
    // rewrite carries the pre-delete rows and retires the masked file,
    // resurrecting deleted rows. dvExpect turns the race into the
    // explicit ConcurrentModificationException every DV-sensitive commit
    // raises; autoCompactIfDue already swallows it and retries on the
    // next commit.
    val dvAtRead = snap.dvs
    val added = stageFiles(s, snap.root, physDf).map(_.name)
    commitNames(s, snap.root, added, removed,
      schemaDdl = snap.schema.map(_.toDDL).orElse(Some(physDf.schema.toDDL)),
      flags = Seq("nodata"),
      dvExpect = Some(removed.map(f => f -> dvAtRead.get(f).map(_._1)).toMap))
  }

  def compact(s: SparkSession, root: String, targetFiles: Int): Int = {
    val snap = latest(root)
    require(snap.gen >= 0, s"time travel: cannot compact empty table $root")
    requireWritable(snap)
    val files = snap.files
    if (files.size <= targetFiles) snap.gen
    // physical-name read (mapped tables keep their renamed columns'
    // bytes), DV masks applied, defaults filled, widened files
    // up-converted — then the logical schema stays logged
    else commitNoDataIn(s, snap,
      readFilesFilledDvsIn(s, snap, files).coalesce(targetFiles),
      removed = files)
  }

  /** Compact ONLY the SMALL files (live rows < `smallRows` after DV
    * masks), and only once `minFiles` of them accumulated — the
    * bounded, incremental sibling of [[compact]] that auto-compaction
    * rides (Delta's autoCompact): cost ∝ the small files' bytes, never
    * the table's, so it is safe to run after every append at 100 TB.
    * Small files pack into ~`smallRows`-sized outputs in one `nodata`
    * commit (rows unchanged — change feeds skip it); masks on small
    * files materialize away with them. Files without a logged row
    * count are left alone (their size is unknowable from metadata).
    *
    * PARTITIONED layouts pack PER VALUE GROUP (r18, Delta's per-
    * partition autoCompact): files sharing the same tagged value lines
    * (`=`, generated `~month`, `#bucket:n`) compact only among
    * themselves once a group accumulates `minFiles` small files, and
    * the packed outputs CARRY the group's lines — equality/DPP pruning
    * keeps pruning through maintenance; files of different partitions
    * never merge. Unpartitioned tables are the one-empty-group case —
    * behavior unchanged. Returns the committed version; the current
    * one below threshold. */
  def compactSmall(s: SparkSession, root: String, smallRows: Long,
      minFiles: Int): Int = {
    require(smallRows > 0 && minFiles > 1,
      s"time travel: bad compactSmall bounds ($smallRows, $minFiles)")
    val gen = currentVersion(root)
    require(gen >= 0, s"time travel: cannot compact empty table $root")
    requireFeaturesWritable(root)
    val nrows = nrowsFor(root, gen)
    val dvs = dvsFor(root, gen)
    def liveRows(f: String): Option[Long] =
      nrows.get(f).map(n => n - dvs.get(f).map(_._2).getOrElse(0L))
    val byFile = tagLinesByFile(root, gen)
    def groupKey(f: String): Seq[String] = byFile.getOrElse(f, Nil)
    val small = snapshotFiles(root, gen)
      .filter(f => liveRows(f).exists(_ < smallRows))
    val groups = small.groupBy(groupKey).filter(_._2.size >= minFiles)
    if (groups.isEmpty) return gen
    packValueGroups(s, root, gen, groups, fls =>
      math.ceil(fls.flatMap(liveRows).sum.toDouble / smallRows).toInt)
  }

  /** Post-commit AUTO-COMPACTION trigger (Delta's
    * delta.autoOptimize.autoCompact): when the table property
    * `graft.autoCompact` is true, every DSv2 sink commit (SQL INSERT,
    * streaming epoch) is followed by a [[compactSmall]] check — small
    * files from per-run/per-epoch ingestion converge to a bounded count
    * without anyone scheduling OPTIMIZE. Thresholds come from
    * `graft.autoCompact.smallRows` (default 2²⁰) and
    * `graft.autoCompact.minFiles` (default 16). Best-effort by design:
    * a compaction conflict or failure never fails the append that
    * triggered it (the data landed; maintenance retries on the next
    * commit). Column-mapped tables compact fine — [[compactSmall]]
    * reads the physical schema with defaults filled (r17's
    * mapped-aware maintenance; the stale pre-750f9bd skip guard is
    * gone, r18) — and partitioned layouts pack PER VALUE GROUP with
    * the value lines carried, so pruning survives maintenance (r18;
    * the old wholesale skip silently accumulated small files). */
  private[graft] def autoCompactIfDue(s: SparkSession, root: String): Unit =
    try {
      val gen = currentVersion(root)
      if (gen < 0) return
      val props = propsAsOf(root, gen)
      if (!props.get("graft.autoCompact").contains("true")) return
      val smallRows = props.get("graft.autoCompact.smallRows")
        .map(_.toLong).getOrElse(1L << 20)
      val minFiles = props.get("graft.autoCompact.minFiles")
        .map(_.toInt).getOrElse(16)
      compactSmall(s, root, smallRows, minFiles)
      ()
    } catch { case scala.util.control.NonFatal(e) =>
      warnOnce("auto-compact", root, e)
    }

  /** Log a failed best-effort maintenance step (auto-compaction,
    * auto-checkpoint) once per (step, root). The step never fails the
    * commit that triggered it — a compaction conflict retries on the
    * next commit — but a PERSISTENT failure (corrupted log, permission
    * error) must not degrade silently into small-file accumulation or an
    * ever-growing commit tail. */
  private def warnOnce(step: String, root: String, e: Throwable): Unit =
    if (maintWarned.putIfAbsent(s"$step $root", true) == null)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"graft $step under $root failed (the commit stands; retried on " +
          s"a later commit; further failures for this root are not " +
          s"re-logged): $e")

  /** The (step, root) pairs [[warnOnce]] already logged. */
  private val maintWarned =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  /** The LOGICAL view of a physical-named frame at `gen` — the colmap
    * projection [[readAsOfMapped]] applies, shared by the maintenance
    * rewrites that read physical (defaults filled, widening
    * up-converted) but hand a logical frame to a mapped-aware commit
    * verb. Identity (no projection node) on unmapped tables. */
  private def toLogicalFrame(root: String, gen: Int,
      phys: DataFrame): DataFrame = toLogicalFrameIn(snapshot(root, gen), phys)

  private def toLogicalFrameIn(snap: Snapshot, phys: DataFrame): DataFrame = {
    val cm = snap.colmap
    if (cm.isEmpty) phys
    else phys.select(logicalSchemaOf(snap).map(f =>
      col(cm.getOrElse(f.name, f.name)).as(f.name)): _*)
  }

  /** The inverse projection: a LOGICAL frame renamed to the physical
    * names at `gen`, plus any `extra` columns carried through verbatim
    * (`_change_type` on CDC frames). Identity on unmapped tables. */
  private def toPhysicalFrame(root: String, gen: Int, logical: DataFrame,
      extra: Seq[String] = Nil): DataFrame =
    toPhysicalFrameCm(
      if (gen < 0) Map.empty else colmapAsOf(root, gen), logical, extra)

  /** [[toPhysicalFrame]] over an already-resolved mapping — the single
    * projection idiom every mapped staging writer shares (r18 review:
    * four verb-local copies had started to drift). */
  private def toPhysicalFrameCm(cm: Map[String, String],
      logical: DataFrame, extra: Seq[String] = Nil): DataFrame =
    if (cm.isEmpty) logical
    else logical.select(
      (logical.columns.toSeq.filterNot(extra.contains).map(n =>
        col(n).as(cm.getOrElse(n, n))) ++ extra.map(col)): _*)

  /** OPTIMIZE … ZORDER BY (Delta's clustering compaction) over 2–4
    * columns: rewrite the whole current snapshot through
    * [[commitZOrderedN]] in one `nodata` commit — rows unchanged (change
    * feeds skip it), deletion vectors materialized away by the
    * read-through, fresh per-file stats for every clustered column, every
    * prior file retired; a range read on ANY clustered dimension prunes
    * from log metadata after the rewrite. The maintenance op that turns
    * an append-accumulated table into the q185 layout. Column-mapped
    * tables read PHYSICAL (renamed columns keep their bytes, defaults
    * filled, widened files up-converted), project to the logical schema,
    * and stage back through the mapping of the read epoch. */
  def compactZOrderedN(s: SparkSession, root: String, cols: Seq[String],
      nFiles: Int): Int = {
    val gen = currentVersion(root)
    require(gen >= 0, s"time travel: cannot compact empty table $root")
    requireFeaturesWritable(root)
    val files = snapshotFiles(root, gen)
    require(files.nonEmpty, s"time travel: nothing to z-order under $root")
    // dvExpect: the rewrite read gen's DV state; a racing DV-only commit
    // must conflict, not silently resurrect (the commitNoData discipline)
    val dvAtRead = dvsFor(root, gen)
    commitZOrderedN(s, root,
      toLogicalFrame(root, gen, readFilesFilledDvs(s, root, gen, files)),
      cols, nFiles, removed = files, flags = Seq("nodata"),
      dvExpect = Some(files.map(f => f -> dvAtRead.get(f).map(_._1)).toMap),
      ddlExpect = Some(ddlEpoch(root, gen)))
  }

  /** RESTORE the table to the state of generation `toGen`, as a NEW
    * commit (Delta's RESTORE): re-adds the target snapshot's files that
    * the current one dropped and retires the files it gained — a
    * metadata-only rollback (data files are immutable and never copied),
    * with the in-between history still readable AS-OF. The restored
    * generation logs `toGen`'s schema, so schema evolution rolls back
    * with the data. Change feeds refuse ranges crossing a restore (its
    * removes are rewritten history — correct, conservative). */
  def restore(s: SparkSession, root: String, toGen: Int): Int = {
    val cur = currentVersion(root)
    require(toGen >= 0 && toGen <= cur,
      s"time travel: cannot restore $root to $toGen (latest: $cur)")
    val target = resolveSnapshot(root, toGen)._1
    val current = resolveSnapshot(root, cur)._1
    // IDEMPOTENT when there is nothing to roll back (file set, DV state
    // and schema already match the target): return the current version
    // without landing an empty commit — a re-run maintenance statement
    // must not grow the log (the graft_optimize discipline).
    if (target.toSet == current.toSet &&
        dvsFor(root, toGen) == dvsFor(root, cur) &&
        schemaAsOf(root, toGen).map(_.toDDL) ==
          schemaAsOf(root, cur).map(_.toDDL))
      return cur
    // deletion-vector state rolls back with the data: for every file of
    // the target snapshot whose DV differs between then and now, re-log
    // the target's vector — or the explicit clear marker when it had
    // none (a DV added after `toGen` must not keep masking restored rows)
    val tgtDvs = dvsFor(root, toGen)
    val curDvs = dvsFor(root, cur)
    val dvLines = target.flatMap { f =>
      (tgtDvs.get(f), curDvs.get(f)) match {
        case (t, c) if t == c => None
        case (Some((n, card)), _) => Some(s"$f|$n|$card")
        case (None, Some(_)) => Some(s"$f|-|0")
        case _ => None
      }
    }
    commitNames(s, root,
      added = target.filterNot(current.toSet),
      removed = current.filterNot(target.toSet),
      schemaDdl = schemaAsOf(root, toGen).map(_.toDDL),
      flags = Seq("restore"),
      dvs = dvLines)
  }

  /** Commit `df` HIVE-PARTITIONED on categorical `partCol`: files are
    * staged under `<col>=<value>` directories (one file per value after
    * the repartition) and each file's partition VALUE is recorded in the
    * commit (`pvals`) — the partition-pruning contract for string-valued
    * columns that (min,max) range stats can't serve. The partition column
    * itself STAYS in the data files (staged through a duplicate), so
    * reads need no dir-name reconstruction. At scale: one file per value
    * per commit — the value domain is the partition count, the usual
    * categorical-partitioning discipline. */
  def commitPartitioned(s: SparkSession, root: String, df: DataFrame,
      partCol: String, removed: Seq[String] = Nil): Int = {
    val (cm, phys) = writePrologue(s, latest(root), df)
    val pc = cm.getOrElse(partCol, partCol)
    val staged = stageByValue(s, root, phys, col(pc))
    // '|' is the stats-line separator: a value carrying it would lose
    // its pruning line silently at read resolution — refuse
    staged.map(_.value).find(_.contains("|")).foreach(v =>
      throw new IllegalArgumentException(
        s"time travel: partition value '$v' contains '|' — the log's " +
          "stats-line separator; partition on a clean column"))
    commitNames(s, root, staged.map(_.name), removed,
      stats = staged.map(st => s"${st.name}|$pc|=|${st.value}"),
      schemaDdl = Some(df.schema.toDDL))
  }

  /** Commit `df` partitioned by a GENERATED month key derived from the
    * DATE column `baseCol` (Delta's generated partition columns,
    * `date_format(col, 'yyyy-MM')` shape): one file per month, the
    * derived value recorded per file in the commit as a `~month` stats
    * line. The derived column is never stored and readers never mention
    * it — [[readAsOfBetweenDates]] DERIVES the partition predicate from a
    * plain range filter on the base column. At 100 TB this is what makes
    * `WHERE d BETWEEN x AND y` a partition-pruned scan without the user
    * materializing, filtering, or even knowing about a partition column. */
  def commitPartitionedGeneratedMonth(s: SparkSession, root: String,
      df: DataFrame, baseCol: String, removed: Seq[String] = Nil): Int = {
    val (cm, phys) = writePrologue(s, latest(root), df)
    val bc = cm.getOrElse(baseCol, baseCol)
    val staged = stageByValue(s, root, phys, date_format(col(bc), "yyyy-MM"))
    commitNames(s, root, staged.map(_.name), removed,
      stats = staged.map(st => s"${st.name}|$bc|~month|${st.value}"),
      schemaDdl = Some(df.schema.toDDL))
  }

  /** Date-range read pruned through the GENERATED partition key: the
    * month prefix of an ISO date is ORDER-PRESERVING, so the filter
    * `baseCol BETWEEN lo AND hi` maps exactly to the month interval
    * [month(lo), month(hi)] — only files whose recorded month falls
    * inside (plus files with no recorded month, conservatively) are
    * opened, from log metadata alone; the residual date filter keeps
    * exactness. This is Delta's generated-column partition-filter
    * derivation: the user writes the natural predicate, the engine
    * derives the partition one. */
  def readAsOfBetweenDates(s: SparkSession, root: String, gen: Int,
      baseCol: String, lo: String, hi: String): DataFrame = {
    val (loM, hiM) = (lo.take(7), hi.take(7))
    val snap = snapshot(root, gen)
    val kept = snap.files.filter { f =>
      snap.gvals.get(f) match {
        case Some((c, v)) if c == baseCol => v >= loM && v <= hiM
        case _ => true // no generated value recorded: cannot skip
      }
    }
    val reader = schemaReader(s, root, None)
    val base =
      if (kept.isEmpty) reader(snap.files).limit(0)
      else readFilesWithDvs(s, snap, kept, reader)
    base.filter(col(baseCol) >= to_date(lit(lo)) &&
      col(baseCol) <= to_date(lit(hi)))
  }

  /** INCREMENTAL clustering maintenance (the liquid-clustering
    * discipline): fold the files carrying NO stats for `sortCol` — plain
    * appends since the last clustering — into the existing range layout,
    * rewriting ONLY the cluster files whose key range the new rows
    * actually land in. Cost ∝ the new data plus the touched cells' bytes,
    * never the table's; untouched cells keep their physical files
    * (spec-pinned). At 100 TB a steady append stream is absorbed by
    * rewriting a handful of cells per run instead of re-sorting the whole
    * table (the full [[compact]]/[[commitClustered]] OPTIMIZE), while
    * range reads keep pruning from log stats exactly as before: bin
    * ranges stay disjoint by construction (keys below every boundary fold
    * into the lowest bin, keys above into the highest), so repeated
    * incremental passes compose. A `nodata` commit — rows unchanged,
    * change feeds skip it. */
  def compactClusteredIncremental(s: SparkSession, root: String,
      sortCol: String): Int = {
    val gen = currentVersion(root)
    require(gen >= 0, s"time travel: nothing to cluster under $root")
    requireFeaturesWritable(root)
    // COLUMN-MAPPED tables are supported (r18, lifting the r17 refusal):
    // `sortCol` arrives LOGICAL and translates through the mapping —
    // stats lines are physical-keyed (the q210 discipline), the reads
    // run under the PHYSICAL schema with defaults filled and widened
    // files up-converted, and the staged rewrites keep physical names
    // while the commit logs the logical schema.
    val physSort = colmapAsOf(root, gen).getOrElse(sortCol, sortCol)
    val files = snapshotFiles(root, gen)
    val stats = statsFor(root, gen)
    val clustered = files.filter(f => stats.contains((f, physSort)))
      .sortBy(f => stats((f, physSort))._1)
    val fresh = files.filterNot(f => stats.contains((f, physSort)))
    if (fresh.isEmpty) return gen // layout already fully clustered
    require(clustered.nonEmpty,
      s"time travel: no clustered base under $root — run commitClustered " +
        "for the initial layout, then maintain incrementally")
    // bin i owns [lo_i, lo_{i+1}); bin 0 also owns keys below lo_0, the
    // last bin everything above its lo — O(#cells) boundary scan per row
    // (cells are few; a binary-search expression is the next step if a
    // deployment runs tens of thousands of cells)
    val los = clustered.map(f => stats((f, physSort))._1)
    val boundArr = array(los.map(lit(_)): _*)
    def binOf(c: Column): Column =
      greatest(lit(0), size(filter(boundArr, b => b <= c)) - 1)
    // dvExpect: the folds read gen's DV state — a racing DV-only commit
    // on a touched file must conflict, never silently resurrect
    val dvAtRead = dvsFor(root, gen)
    val freshDf = readFilesFilledDvs(s, root, gen, fresh)
    val touched = freshDf.select(binOf(col(physSort)).as("__b"))
      .distinct().collect().map(_.getInt(0)).sorted // bounded by #cells
    val touchedFiles = touched.map(clustered(_)).toSeq
    val oldRows = // every fresh row fully DV-masked: nothing to fold in
      if (touchedFiles.isEmpty) freshDf.limit(0)
      else readFilesFilledDvs(s, root, gen, touchedFiles)
    val rewrite = oldRows.unionByName(freshDf)
    // combined per-bin stats: one narrow agg over the touched bytes only
    val binStats = rewrite
      .groupBy(binOf(col(physSort)).as("__b"))
      .agg(min(col(physSort)).as("lo"), max(col(physSort)).as("hi"))
      .collect()
      .map(r => r.getInt(0).toString -> ((r.get(1), r.get(2)))).toMap
    val staged = stageByValue(s, root, rewrite,
      binOf(col(physSort)), Some(physSort))
    val statLines = staged.flatMap { st =>
      binStats.get(st.value).map { case (l, h) => s"${st.name}|$physSort|$l|$h" }
    }
    val removedAll = touchedFiles ++ fresh
    commitNames(s, root, staged.map(_.name),
      removed = removedAll, stats = statLines,
      flags = Seq("nodata"),
      schemaDdl = schemaAsOf(root, gen).map(_.toDDL),
      dvExpect =
        Some(removedAll.map(f => f -> dvAtRead.get(f).map(_._1)).toMap))
  }

  /** The per-file partition VALUES visible at `gen` — the `=`-tagged
    * stats lines [[commitPartitioned]] records. */
  private[graft] def pvalsFor(root: String, gen: Int): Map[String, (String, String)] =
    snapshot(root, gen).pvals

  /** EVERY tagged per-file partition value visible at `gen`, keyed
    * (file, column) → (tag, value): identity `=` lines, generated
    * `~month`/`~day`/`~year` lines and `#bucket:n` lines — the
    * multi-term spec's read-side pruning source ([[FileSkip]] derives
    * the filter literal's value per tag and drops non-matching files). */
  private[graft] def tvalsFor(root: String, gen: Int)
      : Map[(String, String), (String, String)] = snapshot(root, gen).tvals

  /** Per-file tagged value lines (`col|tag|value`, sorted) at `gen`,
    * grouped in ONE pass over the tvals fold — the per-file
    * `tv.collect { case ((`f`, …` pattern re-walked every entry per
    * file, O(files × entries) on the driver (r18 review). Shared by
    * the value-group maintenance verbs and the partitions metadata. */
  private def tagLinesByFile(root: String, gen: Int)
      : Map[String, Seq[String]] =
    tvalsFor(root, gen).toSeq
      .groupBy(_._1._1)
      .map { case (f, es) =>
        f -> es.map { case ((_, c), (tag, v)) => s"$c|$tag|$v" }.sorted
      }

  /** Equality read pruned by the log's partition values: only files whose
    * recorded value matches — plus files with NO recorded value,
    * conservatively — are opened; the residual filter keeps exactness.
    * The categorical counterpart of [[readAsOfWhere]]'s range pruning. */
  def readAsOfValue(s: SparkSession, root: String, gen: Int,
      partCol: String, value: String): DataFrame = {
    val snap = snapshot(root, gen)
    val kept = snap.files.filter { f =>
      snap.pvals.get(f) match {
        case Some((c, v)) if c == partCol => v == value
        case _ => true // no partition value recorded: cannot skip
      }
    }
    val reader = schemaReader(s, root, None)
    val base =
      if (kept.isEmpty) reader(snap.files).limit(0)
      else readFilesWithDvs(s, snap, kept, reader)
    base.filter(col(partCol) === value)
  }

  /** The resolved appId → newest-txn-version map at `gen`: newest
    * checkpoint ≤ gen (whose `txn` array carries the folded map — Delta
    * persists setTransactions in checkpoints for the same reason) plus
    * the tail commits. Without the checkpoint fold, [[expireHistory]]
    * would erase a streaming writer's txn records and a restart would
    * REPLAY an already-committed epoch as a duplicate generation. */
  private[graft] def txnsAsOf(root: String, gen: Int): Map[String, Long] =
    snapshot(root, gen).txns

  /** The newest transaction version committed under `appId` — the read
    * half of [[commitTxn]]'s idempotence contract. O(checkpoint + tail)
    * metadata reads, and retention-proof: the resolved txn map rides
    * every checkpoint. */
  def lastTxnVersion(root: String, appId: String): Option[Long] =
    latest(root).txns.get(appId)

  /** IDEMPOTENT commit (Delta's txnAppId/txnVersion): the commit records
    * `(appId, version)`, and a commit whose version is ≤ the newest one
    * already recorded for `appId` is SKIPPED — nothing staged, nothing
    * claimed. This is the exactly-once contract a streaming writer needs:
    * `foreachBatch((df, epoch) => commitTxn(…, appId, epoch))` makes a
    * replayed micro-batch (restart re-runs the last uncommitted epoch) a
    * no-op instead of a duplicate. The check-then-commit is serialized
    * per root within the JVM ([[lockFor]]); writers of the SAME appId
    * racing from different JVMs need external coordination — the same
    * single-writer-per-appId assumption Delta documents. Returns the
    * version the table is at (newly committed or unchanged). */
  def commitTxn(s: SparkSession, root: String, df: DataFrame,
      appId: String, version: Long): Int = {
    require(!appId.contains("|"), "txn appId must not contain '|'")
    lockFor(root).synchronized {
      val snap = latest(root)
      if (snap.txns.get(appId).exists(_ >= version))
        snap.gen // replayed write: idempotent skip
      else commitAt(s, snap, df, Nil, Nil, Some(s"$appId|$version"))
    }
  }

  /** SHALLOW CLONE (Delta's CLONE): a new table whose first commit
    * references the source snapshot's data files by ABSOLUTE path —
    * metadata only, not one data byte copied, so cloning a 100 TB table
    * costs one commit write. The clone carries the source's stats,
    * blooms, and schema (re-keyed to the absolute names), so pruned
    * reads keep pruning; from then on the two logs are independent —
    * appends/deletes on either side never touch the other (spec-proven
    * both directions). Source-side retention is CLONE-AWARE (r14
    * verdict #4, closing the Delta-parity caveat): the clone plants a
    * back-reference marker in the source's log, and [[vacuum]] keeps
    * every file a live clone still references even after the source's
    * own history expired past it. A clone that is DELETED releases its
    * pins at the source's next vacuum (the marker self-cleans); a clone
    * that is MOVED must be re-cloned — the marker records its root. */
  def shallowClone(s: SparkSession, src: String, dst: String): Int = {
    val gen = currentVersion(src)
    require(gen >= 0, s"time travel: cannot clone empty table $src")
    require(currentVersion(dst) < 0,
      s"time travel: clone target $dst already has a commit log")
    val files = snapshotFiles(src, gen)
    val abs = files.map(f => dataPath(src, f))
    val fileSet = files.toSet
    val stats = statsFor(src, gen).collect {
      case ((f, c), (lo, hi)) if fileSet(f) =>
        s"${dataPath(src, f)}|$c|$lo|$hi"
    }.toSeq.sorted
    val srcBlooms = bloomsFor(src, gen)
    val blooms = files.flatMap(f => srcBlooms.get(f).map { case (c, m, k, bits) =>
      s"${dataPath(src, f)}|$c|$m|$k|${java.util.Base64.getEncoder.encodeToString(bits)}" })
    val srcRows = nrowsFor(src, gen)
    val nrows = files.flatMap(f => srcRows.get(f).map(n =>
      s"${dataPath(src, f)}|$n"))
    val v = commitNames(s, dst, abs, Nil, stats,
      schemaDdl = schemaAsOf(src, gen).map(_.toDDL), blooms = blooms,
      // carry the source's recorded counts when complete; else re-read
      // the footers (still metadata-only)
      nrowsIn = if (nrows.size == files.size) Some(nrows) else None)
    // BACK-REFERENCE marker (r14 verdict #4, closing the q179 Delta-
    // parity caveat): the source remembers where its clones live, so a
    // source-side vacuum after history retention can fold each live
    // clone's absolute references back into its keep set instead of
    // deleting files the clone still reads. One tiny file per clone;
    // a deleted clone's marker self-cleans at the next vacuum.
    val (fs, _) = fsFor(src)
    val markers = new org.apache.hadoop.fs.Path(cloneMarkerDir(src))
    fs.mkdirs(markers)
    val id = java.util.UUID.nameUUIDFromBytes(
      dst.getBytes("UTF-8")).toString.take(16)
    writeBytes(fs, new org.apache.hadoop.fs.Path(markers, s"$id.clone"), dst)
    v
  }

  /** DEEP CLONE (Delta's `CREATE TABLE … CLONE` without SHALLOW): a new
    * independent table whose first commit references COPIES of the
    * source snapshot's data files and DV sidecars — the documented
    * escape hatch from the shallow clone's retention caveat: the deep
    * clone survives source vacuum, source deletion, source anything.
    * The byte copy runs as a DISTRIBUTED job (one task per file — at
    * 100 TB the copy cost is the point; parallelism scales with the
    * snapshot). All log-borne metadata is carried re-keyed: range/tag
    * stats (pruned reads keep pruning), blooms, nrows, deletion vectors
    * (masked rows stay masked), CHECK constraints, column mapping,
    * type-widening/default properties, the logical schema. Tags and
    * branch refs do NOT carry (they name source history the clone does
    * not have — Delta clones likewise start history fresh). Absolute
    * file references (a shallow-clone source) flatten to fresh local
    * names. Returns the clone's generation 0. */
  def deepClone(s: SparkSession, src: String, dst: String): Int = {
    val gen = currentVersion(src)
    require(gen >= 0, s"time travel: cannot clone empty table $src")
    require(currentVersion(dst) < 0,
      s"time travel: clone target $dst already has a commit log")
    val files = snapshotFiles(src, gen)
    val fileSet = files.toSet
    val dvs = dvsFor(src, gen).filter { case (f, _) => fileSet(f) }
    // re-key map: relative names keep themselves (unique within one
    // snapshot); absolute references (shallow-clone sources) flatten
    val ren: Map[String, String] = files.zipWithIndex.map { case (f, i) =>
      f -> (if (f.startsWith("/") || f.contains("://"))
        s"abs$i-${f.split('/').last}" else f)
    }.toMap
    val (fs, _) = fsFor(dst)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dst/data"))
    if (dvs.nonEmpty)
      fs.mkdirs(new org.apache.hadoop.fs.Path(dvDir(dst)))
    val confB = taskConf(s)
    val pairs = files.map(f => (dataPath(src, f), s"$dst/data/${ren(f)}")) ++
      dvs.map { case (_, (n, _)) =>
        (s"${dvDir(src)}/$n", s"${dvDir(dst)}/$n") }
    import s.implicits._
    s.createDataset(pairs)
      .repartition(math.min(math.max(1, pairs.size), 32))
      .foreach { case (from, to) =>
        val c = confB.value
        val fp = new org.apache.hadoop.fs.Path(from)
        val tp = new org.apache.hadoop.fs.Path(to)
        org.apache.hadoop.fs.FileUtil.copy(
          fp.getFileSystem(c), fp, tp.getFileSystem(c), tp, false, c)
        ()
      }
    val stats = statsFor(src, gen).collect {
      case ((f, c), (lo, hi)) if fileSet(f) => s"${ren(f)}|$c|$lo|$hi"
    }.toSeq ++ tvalsFor(src, gen).collect {
      case ((f, c), (tag, v)) if fileSet(f) => s"${ren(f)}|$c|$tag|$v"
    }
    val blooms = bloomsFor(src, gen).collect {
      case (f, (c, m, k, bits)) if fileSet(f) =>
        s"${ren(f)}|$c|$m|$k|${java.util.Base64.getEncoder.encodeToString(bits)}"
    }.toSeq
    val srcRows = nrowsFor(src, gen)
    val nrows = files.flatMap(f => srcRows.get(f).map(n => s"${ren(f)}|$n"))
    val props = propsAsOf(src, gen).toSeq.sorted.collect {
      case (k, v) if !k.startsWith("graft.tag.") &&
          !k.startsWith("graft.branch.") => s"$k|$v"
    }
    commitNames(s, dst, files.map(ren), Nil,
      stats = stats.sorted,
      schemaDdl = schemaAsOf(src, gen).map(_.toDDL),
      blooms = blooms.sorted,
      nrowsIn = if (nrows.size == files.size) Some(nrows) else None,
      constraints = constraintsAsOf(src, gen).map { case (n, e) => s"$n|$e" },
      dvs = dvs.toSeq.sortBy(_._1).map { case (f, (n, c)) =>
        s"${ren(f)}|$n|$c" },
      props = props,
      colmap = colmapAsOf(src, gen).toSeq.sorted.map { case (l, p) =>
        s"$l|$p" })
  }

  /** `graft_clone_deep(src, dst)` — the retention-independent deep
    * clone from pure SQL (lazy: EXPLAIN copies nothing). Returns
    * (version, n_files). */
  def cloneDeepPlan(exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(exprs.length == 2, "usage: graft_clone_deep(src, dst)")
    val src = litStr(exprs(0), "src")
    val dst = litStr(exprs(1), "dst")
    graft.plans.MaintenanceNode.ensureStrategy(SparkSession.active)
    graft.plans.MaintenanceNode("clone_deep", Seq("version", "n_files"), () => {
      val v = deepClone(SparkSession.active, src, dst)
      Seq(v.toLong, snapshotFiles(dst, v).size.toLong)
    })
  }

  private def cloneMarkerDir(root: String) = s"${logDir(root)}/clones"

  /** Absolute references LIVE CLONES hold into `root`'s data directory
    * — resolved from the back-reference markers [[shallowClone]] plants.
    * A marker self-cleans ONLY when the clone's root directory
    * verifiably does not exist (a plain `fs.exists == false`, no
    * exception): an empty `currentVersion` also covers a log that is
    * merely unreadable right now — an unmounted path, a relative root
    * resolved from a different working directory, an object-store
    * listing hiccup — and deleting the marker then would permanently
    * unpin files the live clone still references (r15 ADVICE). A clone
    * directory that EXISTS but has no readable commit log is ambiguous
    * (half-deleted clone vs transient fault), so the vacuum fails
    * loudly instead of guessing in either direction. Markers store the
    * clone root VERBATIM — clone with absolute roots, or the existence
    * probe answers for the wrong path. */
  private def cloneReferencedNames(root: String): Set[String] = {
    val (fs, _) = fsFor(root)
    val dir = new org.apache.hadoop.fs.Path(cloneMarkerDir(root))
    if (!fs.exists(dir)) return Set.empty
    val prefix = s"$root/data/"
    fs.listStatus(dir).filter(_.getPath.getName.endsWith(".clone"))
      .flatMap { st =>
        val dst = readBytes(fs, st.getPath).trim
        val (dfs, dpath) = fsFor(dst)
        val rootAbsent =
          try !dfs.exists(dpath)
          catch { case _: java.io.IOException => false } // can't verify
        if (rootAbsent) { // clone verifiably gone: marker self-cleans
          fs.delete(st.getPath, false)
          Nil
        } else if (currentVersion(dst) < 0) {
          throw new IllegalStateException(
            s"time travel: clone marker ${st.getPath} points at $dst, " +
              "which exists but has no readable commit log — the " +
              "clone's pinned files cannot be resolved; delete the " +
              "clone directory (the marker then self-cleans) or the " +
              "marker itself if the clone is known dead, then re-run")
        } else {
          val (cfs, commits, ckpts) = listLog(dst)
          (commits.flatMap { case (_, f) =>
            parseArr(commitText(cfs, f), "added")
          } ++ ckpts.flatMap { case (v, f) =>
            ckptHandle(cfs, dst, v, f).lines("files")
          }).filter(_.startsWith(prefix)).map(_.stripPrefix(prefix))
        }
      }.toSet
  }

  /** Per-file COLUMN-NDV sketches visible at `gen` (ANALYZE-style
    * statistics — r18 verdict stretch): `file|col|base64(HLL sketch)`
    * lines recorded by [[analyzeNdv]], keyed (file, col), last write
    * winning, checkpoint-folded like every per-file metadatum. The
    * sketches MERGE: a pruned scan unions exactly its surviving files'
    * sketches, so the distinct-count estimate tracks the scan, not the
    * table — the CBO food `SupportsReportStatistics.columnStats`
    * serves. */
  private[graft] def ndvsFor(root: String, gen: Int)
      : Map[(String, String), String] = snapshot(root, gen).ndvs

  /** ANALYZE (Delta/Iceberg's ANALYZE TABLE … COMPUTE STATISTICS FOR
    * COLUMNS): compute ONE per-file HLL sketch per requested column
    * over the current snapshot — a DISTRIBUTED single-pass agg grouped
    * by file; only (files × cols) kilobyte sketches reach the driver —
    * and record them as `ndvs` lines in one `nodata` metadata commit.
    * Column names arrive LOGICAL and record physical-keyed like the
    * min/max stats lines. Later appends simply lack sketches until the
    * next ANALYZE (readers degrade to no-NDV conservatively, never
    * wrongly). Returns the committed version. */
  def analyzeNdv(s: SparkSession, root: String, lcols: Seq[String]): Int = {
    require(lcols.nonEmpty, "time travel: analyzeNdv needs columns")
    val gen = currentVersion(root)
    require(gen >= 0, s"time travel: nothing to analyze under $root")
    requireFeaturesWritable(root)
    val cm = colmapAsOf(root, gen)
    val cols = lcols.map(c => cm.getOrElse(c, c))
    val files = snapshotFiles(root, gen)
    require(files.nonEmpty, s"time travel: no files to analyze under $root")
    val aggs = cols.map(c => expr(s"hll_sketch_agg(`$c`)").as(c))
    // explicit PHYSICAL read schema: widened tables' narrow files
    // up-convert instead of crashing the vectorized reader.
    // DV-masked rows count into the sketch — a bounded
    // overcount CBO tolerates; the next OPTIMIZE/ANALYZE sheds it.
    val rows = schemaReader(s, root, physSchemaAsOf(root, gen))(files)
      .groupBy(col("_metadata.file_path").as("__f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    // key each sketch by the SNAPSHOT'S file entry — matched on the
    // full normalized path, so shallow-clone ABSOLUTE references
    // resolve too (a basename key silently never matched them)
    val byPath = files.map { f =>
      new org.apache.hadoop.fs.Path(dataPath(root, f)).toUri.getPath -> f
    }.toMap
    val lines = rows.flatMap { r =>
      val entry = byPath.getOrElse(
        new org.apache.hadoop.fs.Path(r.getString(0)).toUri.getPath,
        throw new IllegalStateException(
          s"time travel: analyze read ${r.getString(0)}, which maps to " +
            s"no snapshot entry of $root"))
      cols.zipWithIndex.map { case (c, i) =>
        s"$entry|$c|${java.util.Base64.getEncoder
          .encodeToString(r.getAs[Array[Byte]](i + 1))}"
      }
    }.toSeq.sorted
    commitNames(s, root, Nil, Nil, ndvs = lines,
      flags = Seq("nodata", "analyze"),
      schemaDdl = schemaAsOf(root, gen).map(_.toDDL))
  }

  /** Per-file recorded row counts visible at `gen` (commit metadata),
    * checkpoint-based like [[statsFor]]. */
  private[graft] def nrowsFor(root: String, gen: Int): Map[String, Long] =
    snapshot(root, gen).nrows

  /** The table's commit HISTORY as a DataFrame (Delta's DESCRIBE
    * HISTORY): one row per commit — version, its (in-commit, r15
    * verdict #6) timestamp in epoch millis, file add/remove counts, the
    * ROW count the commit added (from the per-file footer counts the
    * commit records; null for pre-nrows logs), and its flags. The log is
    * metadata (KBs per commit), so this materializes driver-side like
    * every other resolution path. */
  def history(s: SparkSession, root: String): DataFrame = {
    val (fs, commits, _) = listLog(root)
    var lastTs = 0L
    val rows = commits.map { case (v, f) =>
      val txt = commitText(fs, f)
      val added = parseArr(txt, "added")
      val nr = parseArr(txt, "nrows").flatMap(_.split('|') match {
        case Array(_, n) =>
          try Some(n.toLong) catch { case _: NumberFormatException => None }
        case _ => None
      })
      // same effective-timestamp rule as [[commitTimes]]: in-commit ts,
      // mtime fallback, monotonized — DESCRIBE HISTORY and TIMESTAMP AS
      // OF must never disagree about when a commit happened
      val ts = math.max(commitTsIn(txt).getOrElse(
        fs.getFileStatus(f).getModificationTime), lastTs + 1)
      lastTs = ts
      (v.toLong, ts, added.size.toLong,
        parseArr(txt, "removed").size.toLong,
        if (added.isEmpty) Some(0L)
        else if (nr.size == added.size) Some(nr.sum)
        else None,
        parseArr(txt, "flags").mkString(","))
    }
    import s.implicits._
    rows.toDF("version", "ts", "n_added", "n_removed", "n_rows", "flags")
  }

  /** `graft_history(root)` — the history TVF plan builder. */
  def historyPlan(exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(exprs.length == 1, "usage: graft_history(root)")
    history(SparkSession.active, litStr(exprs(0), "root"))
      .queryExecution.logical
  }

  /** Delta's `DESCRIBE DETAIL` / Iceberg's `files` metadata table: one
    * row per CURRENT-snapshot file with its log-recorded economics —
    * bytes, logged row count (NULL for pre-`nrows` commits), live
    * DV-masked rows, the partition/transform value lines
    * (`col|tag|value`, comma-joined, sorted), and how many columns carry
    * range stats. Everything resolves from commit-log metadata plus ONE
    * directory listing — zero parquet footers open, so the TVF costs the
    * same at 100 TB as at 100 MB. The operational surface a table owner
    * sizes compactions and audits layout with. */
  def filesMeta(s: SparkSession, root: String): DataFrame = {
    val gen = currentVersion(root)
    require(gen >= 0, s"time travel: no table at $root")
    val files = snapshotFiles(root, gen)
    val nrows = nrowsFor(root, gen)
    val dvs = dvsFor(root, gen)
    val stats = statsFor(root, gen)
    val pv = pvalsFor(root, gen)
    val tv = tvalsFor(root, gen)
    val dir = new org.apache.hadoop.fs.Path(s"$root/data")
    val fs = dir.getFileSystem(s.sessionState.newHadoopConf())
    val listed =
      if (fs.exists(dir))
        fs.listStatus(dir).map(st => st.getPath.getName -> st.getLen).toMap
      else Map.empty[String, Long]
    val statCols = stats.keys.groupBy(_._1)
      .map { case (f, ks) => f -> ks.size.toLong }
    val rows = files.sorted.map { f =>
      val parts = (pv.get(f).map { case (c, v) => (c, "=", v) }.toSeq ++
        tv.collect { case ((`f`, c), (tag, v)) => (c, tag, v) })
        .distinct.sorted.map { case (c, tag, v) => s"$c|$tag|$v" }
        .mkString(",")
      (f,
        listed.getOrElse(f, fs.getFileStatus(
          new org.apache.hadoop.fs.Path(dataPath(root, f))).getLen),
        nrows.get(f).map(java.lang.Long.valueOf).orNull,
        dvs.get(f).map(d => java.lang.Long.valueOf(d._2)).orNull,
        parts, statCols.getOrElse(f, 0L))
    }
    import s.implicits._
    rows.toDF("file", "bytes", "rows", "dv_rows", "part", "stat_cols")
  }

  /** `graft_files(root)` — the files metadata TVF (read-only, so the
    * graft_asof analysis-time contract applies directly). */
  def filesPlan(exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(exprs.length == 1, "usage: graft_files(root)")
    filesMeta(SparkSession.active, litStr(exprs(0), "root"))
      .queryExecution.logical
  }

  /** Iceberg's `partitions` metadata table: one row per distinct tagged
    * value-line set (`col|tag|value`, comma-joined, sorted; empty string
    * = the unpartitioned group) with its file count, logged LIVE row
    * count (DV masks subtracted; NULL when any member file predates
    * row-count logging), and masked-row total. Commit-log metadata
    * only — zero file opens, so the size report costs the same at
    * 100 TB as at 100 MB. The view an operator sizes per-partition
    * maintenance ([[compactWhere]], retention) with. */
  def partitionsMeta(s: SparkSession, root: String): DataFrame = {
    val gen = currentVersion(root)
    require(gen >= 0, s"time travel: no table at $root")
    val files = snapshotFiles(root, gen)
    val byFile = tagLinesByFile(root, gen)
    val nrows = nrowsFor(root, gen)
    val dvs = dvsFor(root, gen)
    def lines(f: String): String = byFile.getOrElse(f, Nil).mkString(",")
    val rows = files.groupBy(lines).toSeq.sortBy(_._1).map { case (part, fls) =>
      val counts = fls.map(nrows.get)
      val masked = fls.flatMap(f => dvs.get(f).map(_._2)).sum
      (part, fls.size.toLong,
        if (counts.forall(_.isDefined))
          java.lang.Long.valueOf(counts.flatten.sum - masked)
        else null.asInstanceOf[java.lang.Long],
        masked)
    }
    import s.implicits._
    rows.toDF("part", "n_files", "rows", "dv_rows")
  }

  /** `graft_partitions(root)` — the partitions metadata TVF. */
  def partitionsPlan(exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(exprs.length == 1, "usage: graft_partitions(root)")
    partitionsMeta(SparkSession.active, litStr(exprs(0), "root"))
      .queryExecution.logical
  }

  /** PARTITION-SCOPED OPTIMIZE (Delta's `OPTIMIZE t WHERE part = v`):
    * bin-pack ONLY the value groups whose lines carry `partCol`'s
    * `value` — at 100 TB the practical maintenance shape is "compact
    * yesterday's partition", never the table. Groups pack separately
    * (multi-term specs keep every line — the [[compactSmall]] r18
    * discipline), outputs CARRY the group's lines so pruning survives,
    * rows are untouched (`nodata`, change feeds skip), dvExpect guards
    * the racing-DV window, and untouched partitions keep their
    * physical files. Returns the committed version; the current one
    * when every matching group is already within `targetFiles`. */
  def compactWhere(s: SparkSession, root: String, partCol: String,
      value: String, targetFiles: Int): Int = {
    require(targetFiles > 0, s"time travel: bad targetFiles $targetFiles")
    val gen = currentVersion(root)
    require(gen >= 0, s"time travel: cannot compact empty table $root")
    requireFeaturesWritable(root)
    val byFile = tagLinesByFile(root, gen)
    val physCol = colmapAsOf(root, gen).getOrElse(partCol, partCol)
    val groups = snapshotFiles(root, gen)
      .groupBy(f => byFile.getOrElse(f, Nil)).filter {
        case (key, fls) => fls.size > targetFiles &&
          key.exists(l =>
            l.startsWith(s"$physCol|") && l.endsWith(s"|$value"))
      }
    if (groups.isEmpty) return gen
    packValueGroups(s, root, gen, groups, _ => targetFiles)
  }

  /** The shared pack-and-commit body of [[compactSmall]] and
    * [[compactWhere]] (r18 review: two drifting copies): stage each
    * value group's live rows into `nOutFor(group files)` outputs, carry
    * the group's tagged lines onto them, retire the inputs, and land
    * ONE `nodata` commit guarded by dvExpect. */
  private def packValueGroups(s: SparkSession, root: String, gen: Int,
      groups: Map[Seq[String], Seq[String]],
      nOutFor: Seq[String] => Int): Int = {
    val dvAtRead = dvsFor(root, gen)
    val adds = Seq.newBuilder[String]
    val stats = Seq.newBuilder[String]
    val removedAll = Seq.newBuilder[String]
    groups.toSeq.sortBy(_._2.head).foreach { case (key, fls) =>
      val added = stageFiles(s, root,
        readFilesFilledDvs(s, root, gen, fls)
          .coalesce(math.max(1, nOutFor(fls)))).map(_.name)
      adds ++= added
      removedAll ++= fls
      stats ++= added.flatMap(n => key.map(line => s"$n|$line"))
    }
    val removed = removedAll.result()
    commitNames(s, root, adds.result(), removed, stats.result(),
      schemaDdl = schemaAsOf(root, gen).map(_.toDDL),
      flags = Seq("nodata"),
      dvExpect =
        Some(removed.map(f => f -> dvAtRead.get(f).map(_._1)).toMap))
  }

  /** `graft_optimize_where(root, partCol, value, targetFiles)` —
    * partition-scoped OPTIMIZE from pure SQL (lazy, idempotent once
    * within target). Returns (version, files_before, files_after) for
    * the WHOLE snapshot. */
  def optimizeWherePlan(exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(exprs.length == 4,
      "usage: graft_optimize_where(root, partCol, value, targetFiles)")
    val root = litStr(exprs(0), "root")
    val partCol = litStr(exprs(1), "partCol")
    val value = litStr(exprs(2), "value")
    val target = litInt(exprs(3), "targetFiles")
    maintPlan("optimize_where",
        Seq("version", "files_before", "files_after")) {
      val s = SparkSession.active
      val before = snapshotFiles(root, currentVersion(root)).size
      val v = compactWhere(s, root, partCol, value, target)
      Seq(v.toLong, before.toLong, snapshotFiles(root, v).size.toLong)
    }
  }

  /** `graft_vacuum_dry(root[, graceMins])` — Delta's VACUUM DRY RUN:
    * report what a vacuum would reclaim, delete nothing. */
  def vacuumDryPlan(exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(exprs.length == 1 || exprs.length == 2,
      "usage: graft_vacuum_dry(root[, graceMins])")
    val root = litStr(exprs(0), "root")
    val graceMs =
      if (exprs.length == 2) litLong(exprs(1), "graceMins") * 60000L else 0L
    val s = SparkSession.active
    import s.implicits._
    vacuumDryRun(root, graceMs).toDF("file").queryExecution.logical
  }

  /** `graft_restore_ts(root, tsMillis)` — RESTORE to the generation in
    * force at a wall-clock instant (Delta's RESTORE TIMESTAMP AS OF),
    * through the same metadata-only rollback as [[restorePlan]]. */
  def restoreTsPlan(exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(exprs.length == 2, "usage: graft_restore_ts(root, tsMillis)")
    val root = litStr(exprs(0), "root")
    val ts = litLong(exprs(1), "tsMillis")
    maintPlan("restore_ts",
        Seq("version", "restored_gen", "files_readded", "files_retired")) {
      val s = SparkSession.active
      val toGen = versionAtTime(root, ts)
      val target = snapshotFiles(root, toGen).toSet
      val current = snapshotFiles(root, currentVersion(root)).toSet
      val v = restore(s, root, toGen)
      Seq(v.toLong, toGen.toLong,
        (target -- current).size.toLong, (current -- target).size.toLong)
    }
  }

  /** `graft_clone(src, dst)` — the q179 zero-copy shallow clone from
    * pure SQL (Delta's `CREATE TABLE … SHALLOW CLONE`). The clone runs
    * at EXECUTION (lazy MaintenanceNode — EXPLAIN creates nothing);
    * the report row carries the cloned generation and its file count.
    * The clone marker (r14 verdict #4) lands with it, so a later source
    * vacuum keeps every file this clone still references. */
  def clonePlan(exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(exprs.length == 2, "usage: graft_clone(src, dst)")
    val src = litStr(exprs(0), "src")
    val dst = litStr(exprs(1), "dst")
    graft.plans.MaintenanceNode.ensureStrategy(SparkSession.active)
    graft.plans.MaintenanceNode("clone", Seq("version", "n_files"), () => {
      val v = shallowClone(SparkSession.active, src, dst)
      Seq(v.toLong, snapshotFiles(dst, v).size.toLong)
    })
  }

  // ---- per-file Bloom point-lookup index (Delta's bloom filter index,
  // kept in the commit log like the q170 range stats) -------------------

  /** splitmix64 — the deterministic 64-bit finalizer both the build UDF
    * (executors) and the lookup pruner (driver) share; no RNG state, no
    * dependence on Spark's internal hash implementations. */
  private[graft] def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** The k probe positions of an integral key in an m-bit filter —
    * Kirsch–Mitzenmacher double hashing (h1 + i·h2, h2 forced odd). */
  private[graft] def bloomPositions(key: Long, m: Int, k: Int): Array[Int] = {
    val h1 = mix64(key)
    val h2 = mix64(key ^ 0x5DEECE66DL) | 1L
    Array.tabulate(k)(i => (((h1 + i * h2) % m + m) % m).toInt)
  }

  private def bloomHit(bits: Array[Byte], m: Int, k: Int, key: Long): Boolean =
    bloomPositions(key, m, k).forall(p => (bits(p >>> 3) & (1 << (p & 7))) != 0)

  /** Commit `df` hash-partitioned on `keyCol` into ~`nFiles` files, each
    * with a BLOOM FILTER of its keys recorded IN THE COMMIT (~10 bits/row,
    * k=7 probes → ~1% false positives): point lookups then prune files
    * from log metadata alone, the per-file skipping index Delta attaches
    * to high-cardinality columns that range stats can't serve. The filter
    * bytes are assembled IN EXECUTORS (explode keys to probe positions →
    * per-file collect_set, bounded by m bits → pack to base64); only the
    * finished (file, blob) pairs reach the driver — at 1 M rows/file
    * that's ~1.25 MB per file blob, the same footprint Delta's index
    * files carry. Integral keys only (the point-lookup shape). */
  def commitBloomed(s: SparkSession, root: String, df: DataFrame,
      keyCol: String, nFiles: Int, removed: Seq[String] = Nil): Int = {
    val (cm, phys) = writePrologue(s, latest(root), df)
    val key = cm.getOrElse(keyCol, keyCol)
    val k = 7
    // every staged file is committed: one whose keys are all NULL (or
    // that holds no rows) just carries no filter and stays scannable
    val staged = stageFiles(s, root, phys.repartition(nFiles, col(key)),
      keepUnsummarized = true, summarize = Some { (st, file) =>
        val m = {
          val perFile = math.max(1L, st.count() / math.max(1, nFiles))
          val want = perFile * 10
          var p = 1024
          while (p < want && p < (1 << 28)) p <<= 1
          p
        }
        val posUdf = udf((key: Long) => bloomPositions(key, m, k).toSeq)
        val packUdf = udf((pos: Seq[Int]) => {
          val bytes = new Array[Byte]((m + 7) / 8)
          pos.foreach(p => bytes(p >>> 3) = (bytes(p >>> 3) | (1 << (p & 7))).toByte)
          java.util.Base64.getEncoder.encodeToString(bytes)
        })
        st.select(file.as("f"), explode(posUdf(col(key).cast("long"))).as("p"))
          .groupBy("f").agg(collect_set(col("p")).as("ps"))
          .select(col("f"), packUdf(col("ps")).as("b64"))
          .collect()
          .map(r => r.getString(0) -> Seq(s"$key|$m|$k|${r.getString(1)}"))
          .toMap
      })
    commitNames(s, root, staged.map(_.name), removed,
      schemaDdl = Some(df.schema.toDDL), blooms = staged.flatMap(_.lines))
  }

  /** The per-file bloom filters visible at generation `gen`,
    * checkpoint-based like [[statsFor]]. */
  private def bloomsFor(root: String, gen: Int)
      : Map[String, (String, Int, Int, Array[Byte])] = snapshot(root, gen).blooms

  /** Point lookup pruned by the log's bloom filters: only files whose
    * filter claims at least one of `keys` — plus filter-less files,
    * conservatively — are opened; the residual IN-filter keeps exactness
    * (a bloom hit is only probabilistic). An absent key typically opens
    * ZERO files: the lookup cost is the log metadata read, not the
    * table (TimeTravelSpec asserts the scanned file set). */
  def readAsOfKeys(s: SparkSession, root: String, gen: Int,
      keyCol: String, keys: Seq[Long]): DataFrame = {
    val snap = snapshot(root, gen)
    val kept = snap.files.filter { f =>
      snap.blooms.get(f) match {
        case Some((c, m, k, bits)) if c == keyCol =>
          keys.exists(key => bloomHit(bits, m, k, key))
        case _ => true // no filter recorded: cannot skip
      }
    }
    val reader = schemaReader(s, root, None)
    val base =
      if (kept.isEmpty) reader(snap.files).limit(0)
      else readFilesWithDvs(s, snap, kept, reader)
    base.filter(col(keyCol).isin(keys: _*))
  }

  private def jsonEsc(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"")

  /** `["a","b"]`, every element escaped. */
  private def jsonArr(ls: Seq[String]): String =
    ls.map("\"" + jsonEsc(_) + "\"").mkString("[", ",", "]")

  /** `,"key":[…]`, or nothing for an empty array — how commits carry
    * their optional arrays. */
  private def jsonField(key: String, ls: Seq[String]): String =
    if (ls.isEmpty) "" else ckptField(key, ls)

  /** `,"key":[…]` even when empty: a checkpoint writes every key it
    * resolves, so a missing key means a checkpoint older than the key. */
  private def ckptField(key: String, ls: Seq[String]): String =
    s""","$key":${jsonArr(ls)}"""

  /** Parquet-footer row count of a committed file — a metadata read (no
    * column data touched); one open per ADDED file per commit, so the
    * cost is ∝ the commit's file count, never the table's. */
  private def footerRows(root: String, name: String): Long = {
    val (fs, _) = fsFor(root)
    val r = graft.Tables.openParquet(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(dataPath(root, name)), fs.getConf))
    try r.getRecordCount finally r.close()
  }

  /** The shared claim loop: publish `added`/`removed` as the next
    * generation through the same optimistic protocol and conflict
    * validation for every write. */
  private[graft] def commitNames(s: SparkSession, root: String,
      added: Seq[String], removed: Seq[String],
      stats: Seq[String] = Nil, schemaDdl: Option[String] = None,
      flags: Seq[String] = Nil, blooms: Seq[String] = Nil,
      txn: Option[String] = None,
      nrowsIn: Option[Seq[String]] = None,
      constraints: Seq[String] = Nil,
      dvs: Seq[String] = Nil,
      dvExpect: Option[Map[String, Option[String]]] = None,
      props: Seq[String] = Nil,
      cdc: Seq[String] = Nil,
      colmap: Seq[String] = Nil,
      expectVersion: Option[Int] = None,
      ddlExpect: Option[(Map[String, String], Option[String])] = None,
      identityExpect: Option[Option[String]] = None,
      ndvs: Seq[String] = Nil): Int = {
    // one resolution of the would-be parent per claim attempt: every
    // gate below reads it, and a lost claim re-resolves
    var snap = latest(root)
    // the unbypassable write-path protocol gate (wfeatures); write
    // verbs also check before staging so refusals stay cheap
    requireWritable(snap)
    val fs = snap.fs
    val uid = java.util.UUID.randomUUID().toString.take(8)
    fs.mkdirs(new org.apache.hadoop.fs.Path(logDir(root)))
    // per-file row counts, recorded in the commit for history()/auditing
    // (Delta's numRecords); footer reads unless the caller already knows
    val nrows = nrowsIn.getOrElse(
      added.map(f => s"$f|${footerRows(root, f)}"))
    // PROTOCOL gate (Delta's readerFeatures): a commit that introduces
    // behavior an uninformed reader would MISREAD (not merely miss)
    // records the required feature; readers refuse unknown ones at
    // resolution. Plain commits carry no array — old logs and plain
    // tables are untouched.
    val features = (
      (if (dvs.nonEmpty) Seq("deletion-vectors") else Nil) ++
      (if (colmap.nonEmpty) Seq("column-mapping") else Nil) ++
      (if (props.exists(_.startsWith("graft.widened.")))
        Seq("type-widening") else Nil) ++
      (if (props.exists(_.startsWith("graft.default.")))
        Seq("column-defaults") else Nil)).sorted
    // WRITER features (Delta's reader/writer protocol split): every
    // reader feature binds writers too, plus behaviors that only
    // writers can break — CHECK constraints (an uninformed append could
    // violate one it never parses)
    val wfeatures = (features ++
      (if (constraints.exists(!_.endsWith("|-")))
        Seq("check-constraints") else Nil)).sorted
    // optional arrays in their fixed order — the commit JSON's bytes
    val optional = Seq("stats" -> stats, "flags" -> flags,
      "features" -> features, "wfeatures" -> wfeatures, "blooms" -> blooms,
      "ndvs" -> ndvs, "nrows" -> nrows, "constraints" -> constraints,
      "dvs" -> dvs, "props" -> props, "cdc" -> cdc, "colmap" -> colmap,
      "txn" -> txn.toSeq, "schemav" -> schemaDdl.toSeq)
    def render(v: Int, ts: Long) =
      s"""{"version":$v,"ts":["$ts"],"added":${jsonArr(added)},""" +
        s""""removed":${jsonArr(removed)}""" +
        optional.map { case (k, ls) => jsonField(k, ls) }.mkString + "}"
    var v = snap.gen + 1
    var committed = false
    while (!committed) {
      lockFor(root).synchronized {
        // a caller that planned against a SPECIFIC parent (fast-forward
        // publish) must not silently land on top of an interleaved
        // commit — the usual lost-claim retry becomes a loud conflict
        expectVersion.filter(_ != v).foreach(e =>
          throw new java.util.ConcurrentModificationException(
            s"time travel: commit under $root expected to land as " +
              s"generation $e but the log is at ${v - 1} — a concurrent " +
              "commit interleaved; re-plan against the current head"))
        lazy val live = if (v == 0) Set.empty[String] else snap.files.toSet
        if (removed.nonEmpty) {
          val gone = removed.filterNot(live)
          if (gone.nonEmpty)
            throw new java.util.ConcurrentModificationException(
              s"time travel: commit conflict under $root — removed files " +
                s"${gone.mkString(", ")} are not in snapshot ${v - 1} " +
                "(a concurrent commit already retired them, or they never " +
                "existed); re-read the table and re-plan the rewrite")
        }
        // a deletion-vector commit was planned against a specific DV state
        // per file (the positions it unioned into the new vector): if a
        // racing commit rewrote a target file or replaced its DV since,
        // blind-landing would silently drop that racer's deletes — the
        // same logical-conflict class as the remove validation above
        dvExpect.filter(_.nonEmpty).foreach { exp =>
          val conflicts = exp.collect {
            case (f, expect) if !live(f) || snap.dvs.get(f).map(_._1) != expect => f
          }
          if (conflicts.nonEmpty)
            throw new java.util.ConcurrentModificationException(
              s"time travel: deletion-vector conflict under $root — files " +
                s"${conflicts.mkString(", ")} were rewritten or re-deleted " +
                "by a concurrent commit; re-read the table and re-plan")
        }
        // a rewrite was planned against a specific DDL EPOCH — the
        // column mapping and logical schema at its read generation. An
        // interleaved metadata-only DDL (RENAME COLUMN, ALTER ADD)
        // moves neither the removed-live check nor dvExpect, yet the
        // staged files carry the stale names and the commit would
        // re-log the pre-DDL schema, silently corrupting the mapping
        // — turn it into the explicit conflict every other race gets.
        ddlExpect.foreach { epoch =>
          if (ddlEpochOf(snap) != epoch)
            throw new java.util.ConcurrentModificationException(
              s"time travel: DDL conflict under $root — the column " +
                "mapping or schema changed between the rewrite's read " +
                s"and its commit (generation ${v - 1}); re-read the " +
                "table and re-plan the rewrite")
        }
        // an identity-filling commit planned its ids against a specific
        // high-water mark — a racing identity writer advancing it
        // would make blind landing a silent id COLLISION; the conflict
        // sends the caller back to re-assign (commitStagedFiles loops)
        identityExpect.foreach { exp =>
          val now = snap.props.get(IdentityHwmKey)
          if (now != exp)
            throw new IdentityHwmConflict(
              s"time travel: identity high-water conflict under $root " +
                s"— planned against $exp, the log is at $now; " +
                "re-assign the ids and retry")
        }
        // IN-COMMIT TIMESTAMP (Delta's inCommitTimestamps, r15 verdict
        // #6): the claim-time instant is stored IN the commit JSON, so
        // TIMESTAMP AS OF resolution survives anything that perturbs
        // file modification times (backup/restore, rsync, a touch of the
        // log dir). Monotonized against the previous commit's EFFECTIVE
        // timestamp (its own ts field; mtime for pre-ts logs) so
        // same-millisecond neighbors stay strictly increasing — read
        // through the snapshot, which holds commit v − 1.
        val prevTs = snap.commits.find(_._1 == v - 1).fold(0L) { case (pv, pf) =>
          commitTsIn(snap.text(pv, pf))
            .getOrElse(fs.getFileStatus(pf).getModificationTime)
        }
        val ts = math.max(System.currentTimeMillis(), prevTs + 1)
        val tmp = new org.apache.hadoop.fs.Path(s"${logDir(root)}/.c-$uid")
        writeBytes(fs, tmp, render(v, ts))
        if (claimVersion(fs, tmp,
            new org.apache.hadoop.fs.Path(s"${logDir(root)}/$v.json"))) {
          committed = true
        } else {
          fs.delete(tmp, false)
          snap = latest(root)
          require(snap.gen >= v, s"commit $v failed but log has no $v")
          v = snap.gen + 1
        }
      }
    }
    // AUTO-CHECKPOINT every 10 generations (Delta's checkpointInterval
    // default): without it a one-commit-per-micro-batch table makes
    // every reader fold an ever-growing commit tail — the metadata cost
    // a 100 TB deployment feels first. Runs OUTSIDE the commit lock: the
    // parquet-format checkpoint is a distributed job, and holding
    // lockFor through it would stall every same-JVM committer for the
    // job's duration. Safe outside: checkpoint content is a pure function
    // of the log at version v, so racing committers / checkpointers
    // produce logically identical state and the dir/file rename race
    // keeps exactly one. Best-effort: a failed checkpoint never fails
    // the commit that triggered it, and is logged once per root.
    if (v > 0 && v % AutoCheckpointEvery == 0)
      try { checkpoint(root, v); () }
      catch { case scala.util.control.NonFatal(e) => warnOnce("auto-checkpoint", root, e) }
    v
  }

  /** Write a CHECKPOINT of the current latest generation: the fully
    * resolved snapshot file list, stored beside the commits as
    * `<N>.ckpt.json`. Without one, resolving generation N reads N+1
    * commit files — at one commit per micro-batch that is the metadata
    * read a 100 TB deployment feels first (Delta's checkpoint solves
    * exactly this). With one, `resolveSnapshot` reads ONE checkpoint plus
    * only the commits beyond it. Content is a pure function of the log,
    * so racing checkpointers write identical bytes — last rename wins,
    * both are right. Returns the checkpointed version. */
  def checkpoint(root: String): Int = {
    val snap = latest(root)
    require(snap.gen >= 0, s"time travel: nothing to checkpoint under $root")
    checkpointAt(snap)
  }

  /** Checkpoint a SPECIFIC generation — retention needs an anchor at the
    * expiry boundary, which is usually not the latest version. */
  def checkpoint(root: String, v: Int): Int = checkpointAt(snapshot(root, v))

  private def checkpointAt(snap: Snapshot): Int = {
    val (root, v, fs) = (snap.root, snap.gen, snap.fs)
    val files = snap.files
    val fileSet = files.toSet
    // the checkpoint carries the RESOLVED deletion-vector, constraint,
    // txn, schema and per-file stats/bloom/nrows state too — after
    // history retention the tail commits below it are gone, so anything
    // not folded into the checkpoint would silently resurrect masked
    // rows, drop enforcement, replay committed epochs (broken
    // exactly-once), fall back to parquet schema inference, or lose
    // file-skipping forever. Per-file lines are kept only for the
    // snapshot's files — retired files' metadata is inert.
    val dvLines = snap.dvs.toSeq.sortBy(_._1)
      .map { case (f, (n, c)) => s"$f|$n|$c" }
    val csLines = snap.constraints.map { case (n, e) => s"$n|$e" }
    val prLines = snap.props.toSeq.sorted.map { case (k, w) => s"$k|$w" }
    val cmLines = snap.colmap.toSeq.sorted.map { case (l, p) => s"$l|$p" }
    val statLines = (
      snap.stats.collect {
        case ((f, c), (lo, hi)) if fileSet(f) => s"$f|$c|$lo|$hi"
      }.toSeq ++
      // every TAGGED value line (identity =, generated ~month/~day/
      // ~year, #bucket:n) folds in — retention must not lose any
      // term's pruning (tvals subsumes the old pvals+gvals collects)
      snap.tvals.collect {
        case ((f, c), (tag, tv)) if fileSet(f) => s"$f|$c|$tag|$tv"
      }).sorted
    val bloomRaw = snap.blooms.collect {
      case (f, (c, m, k, bits)) if fileSet(f) => (s"$f|$c|$m|$k", bits)
    }.toSeq.sortBy(_._1)
    val ndvRaw = snap.ndvs.collect {
      case ((f, c), b64) if fileSet(f) =>
        (s"$f|$c", java.util.Base64.getDecoder.decode(b64))
    }.toSeq.sortBy(_._1)
    val nrowLines = snap.nrows.collect {
      case (f, n) if fileSet(f) => s"$f|$n"
    }.toSeq.sorted
    val txnLines = snap.txns.toSeq.sorted
      .map { case (a, ver) => s"$a|$ver" }
    val schemaDdl = snap.schema.map(_.toDDL)
    val featLines = snap.features.toSeq.sorted
    val wfeatLines = snap.writerFeatures.toSeq.sorted
    val fileLevelCount = files.size + dvLines.size + statLines.size +
      bloomRaw.size + nrowLines.size + ndvRaw.size
    val spark = SparkSession.getActiveSession
    val txt =
      if (fileLevelCount < CkptParquetMinLines || spark.isEmpty) {
        // LEGACY single-JSON blob: smaller and cheaper for small
        // tables (no Spark job per checkpoint); every reader keeps
        // understanding it forever
        val bloomLines = bloomRaw.map { case (l, bits) =>
          l + "|" + java.util.Base64.getEncoder.encodeToString(bits) }
        val ndvLines = ndvRaw.map { case (l, bits) =>
          l + "|" + java.util.Base64.getEncoder.encodeToString(bits) }
        s"""{"version":$v,"files":[${files.map("\"" + _ + "\"").mkString(",")}]""" +
          ckptField("features", featLines) + ckptField("wfeatures", wfeatLines) +
          ckptField("dvs", dvLines) + ckptField("constraints", csLines) +
          ckptField("props", prLines) + ckptField("colmap", cmLines) +
          ckptField("stats", statLines) + ckptField("blooms", bloomLines) +
          ckptField("ndvs", ndvLines) +
          ckptField("nrows", nrowLines) + ckptField("txn", txnLines) +
          ckptField("schemav", schemaDdl.toSeq) + "}"
      } else {
        // PARQUET MULTI-PART checkpoint (Delta's multi-part
        // checkpoints): the O(files)
        // payload lands as columnar (k, line, bin) rows written by a
        // DISTRIBUTED job — never a driver-assembled multi-GB string —
        // range-partitioned on (k, line) so a reader's key filter
        // prunes whole parts from parquet min/max alone; bloom bits
        // ride the BINARY column out of line (no base64, and they
        // deserialize only when the blooms fold runs). The manifest
        // keeps only the O(columns) table-level arrays plus the
        // format marker feature that makes pre-r19 readers refuse
        // loudly instead of resolving an empty snapshot.
        val s = spark.get
        val rows: Seq[org.apache.spark.sql.Row] =
          files.map(f => org.apache.spark.sql.Row("files", f, null)) ++
            dvLines.map(l => org.apache.spark.sql.Row("dvs", l, null)) ++
            statLines.map(l => org.apache.spark.sql.Row("stats", l, null)) ++
            nrowLines.map(l => org.apache.spark.sql.Row("nrows", l, null)) ++
            bloomRaw.map { case (l, bits) =>
              org.apache.spark.sql.Row("blooms", l, bits) } ++
            ndvRaw.map { case (l, bits) =>
              org.apache.spark.sql.Row("ndvs", l, bits) }
        val nParts = math.max(1,
          math.ceil(fileLevelCount.toDouble / CkptRowsPerPart).toInt)
        import scala.jdk.CollectionConverters._
        val df = s.createDataFrame(rows.asJava, CkptPartSchema)
        val tmpDir = new org.apache.hadoop.fs.Path(
          s"${logDir(root)}/.ckp-${java.util.UUID.randomUUID().toString.take(8)}")
        tableWriter(df.repartitionByRange(nParts, col("k"), col("line")).write)
          .mode("overwrite").parquet(tmpDir.toString)
        val partsDest =
          new org.apache.hadoop.fs.Path(ckptPartsDir(root, v))
        // parts land BEFORE the manifest (a manifest must never point
        // at nothing); a racing checkpointer's dir is logically equal
        // content — first rename wins, the loser discards its parts.
        // The exists check matters: Hadoop rename onto an
        // existing directory moves the source INTO it and returns true,
        // so without it the loser's dot-dir would nest inside the
        // winner's sidecar and leak instead of being deleted.
        if (fs.exists(partsDest) || !fs.rename(tmpDir, partsDest))
          fs.delete(tmpDir, true)
        else {
          // TOCTOU re-verify: two racers can BOTH observe
          // !exists(partsDest); the later rename then moves its temp dir
          // INSIDE the winner's parts dir and still returns true. Our
          // parts land as part-*.parquet, never as a dot-dir, so if
          // partsDest now contains our tmp dir name we lost the race —
          // delete the nested dot-dir instead of leaking it.
          val nested =
            new org.apache.hadoop.fs.Path(partsDest, tmpDir.getName)
          if (fs.exists(nested)) fs.delete(nested, true)
        }
        s"""{"version":$v,"format":["parquet"]""" +
          ckptField("features", (featLines :+ CkptParquetFeature).sorted) +
          ckptField("wfeatures", wfeatLines) +
          ckptField("constraints", csLines) + ckptField("props", prLines) +
          ckptField("colmap", cmLines) + ckptField("txn", txnLines) +
          ckptField("schemav", schemaDdl.toSeq) + "}"
      }
    val tmp = new org.apache.hadoop.fs.Path(
      s"${logDir(root)}/.ck-${java.util.UUID.randomUUID().toString.take(8)}")
    writeBytes(fs, tmp, txt)
    val dest = new org.apache.hadoop.fs.Path(s"${logDir(root)}/$v.ckpt.json")
    if (!fs.rename(tmp, dest)) { // deterministic content: replace is safe
      fs.delete(dest, false)
      require(fs.rename(tmp, dest), s"time travel: checkpoint $v failed")
    }
    v
  }

  /** The snapshot file set of generation `gen` (relative names), plus the
    * number of COMMIT files parsed to resolve it — the metadata-cost
    * observable TimeTravelSpec pins. Resolution starts from the newest
    * checkpoint ≤ gen (zero commit reads for the prefix) and folds only
    * the tail commits (ckpt, gen]. */
  private[graft] def resolveSnapshot(root: String, gen: Int)
      : (Seq[String], Int) = {
    val snap = snapshot(root, gen)
    (snap.files, snap.tail.size)
  }

  private[graft] def snapshotFiles(root: String, gen: Int): Seq[String] =
    snapshot(root, gen).files

  /** The schema in force at generation `gen`: the newest commit ≤ gen
    * that logged one (every commit written since schema logging landed
    * does), or the checkpoint's resolved one — so expiring the only
    * schemav-carrying commit cannot send readers back to parquet
    * inference. None for pre-schema logs: readers then infer. */
  private[graft] def schemaAsOf(root: String, gen: Int)
      : Option[org.apache.spark.sql.types.StructType] = snapshot(root, gen).schema

  /** Read the table AS OF generation `gen` — the snapshot the log defines,
    * resolved from commit metadata only (the data dir is never listed).
    * The read applies the SCHEMA LOGGED at `gen` (Delta's schema-on-read
    * evolution, add/drop-column shape): files from older generations
    * null-fill columns added later, and columns dropped by `gen` are
    * projected away even though older files still store them — so every
    * snapshot presents its own generation's schema, stably. Deletion
    * vectors in force at `gen` mask their files' rows at scan time (no-op
    * when none — the common case costs nothing extra). */
  def readAsOf(s: SparkSession, root: String, gen: Int): DataFrame = {
    val snap = snapshot(root, gen)
    readFilesWithDvs(s, snap, snap.files, schemaReader(s, root, snap.schema))
  }

  /** Table-valued SQL surface (r12 verdict #7): `graft_asof(root, gen)`
    * and `graft_changes(root, from, to)` in FROM position make the commit
    * log queryable from pure SQL — no library call in the query text. The
    * builders run at ANALYSIS time: arguments must be literals (the same
    * contract as Spark's own range()/explode() TVF arguments), the
    * snapshot's file list resolves from the log right there, and the
    * returned plan is a parquet relation over exactly those files — so
    * the planned scan is identical to readAsOf's, orphans and later
    * generations invisible, history depth never inflating the data scan. */
  private def litStr(e: org.apache.spark.sql.catalyst.expressions.Expression,
      what: String): String = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v,
        org.apache.spark.sql.types.StringType) if v != null => v.toString
    case other => throw new IllegalArgumentException(
      s"graft TVF: $what must be a string literal, got $other")
  }
  private def litInt(e: org.apache.spark.sql.catalyst.expressions.Expression,
      what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int,
        org.apache.spark.sql.types.IntegerType) => v
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Long,
        org.apache.spark.sql.types.LongType) => v.toInt
    case other => throw new IllegalArgumentException(
      s"graft TVF: $what must be an integer literal, got $other")
  }
  private def litLong(e: org.apache.spark.sql.catalyst.expressions.Expression,
      what: String): Long = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int,
        org.apache.spark.sql.types.IntegerType) => v.toLong
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Long,
        org.apache.spark.sql.types.LongType) => v
    case other => throw new IllegalArgumentException(
      s"graft TVF: $what must be an integer literal, got $other")
  }

  /** `graft_asof(root, gen)` — the TVF plan builder. `gen` is a
    * generation number or, as a string literal, a snapshot TAG name
    * (`graft_asof(root, 'v1')` — Iceberg's ref reads). */
  def asOfPlan(exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(exprs.length == 2, "usage: graft_asof(root, gen | 'tag')")
    val root = litStr(exprs(0), "root")
    val gen = exprs(1) match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v,
          org.apache.spark.sql.types.StringType) if v != null =>
        resolveVersionRef(root, v.toString)
      case e => litInt(e, "gen")
    }
    readAsOf(SparkSession.active, root, gen).queryExecution.logical
  }

  /** `graft_tag(root, name, gen)` — tag a generation from pure SQL
    * (lazy maintenance verb: EXPLAIN tags nothing). Returns
    * (version, tagged_gen). */
  def tagPlan(exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(exprs.length == 3, "usage: graft_tag(root, name, gen)")
    val root = litStr(exprs(0), "root")
    val name = litStr(exprs(1), "name")
    val gen = litInt(exprs(2), "gen")
    maintPlan("tag", Seq("version", "tagged_gen")) {
      Seq(tagSnapshot(SparkSession.active, root, name, gen).toLong,
        gen.toLong)
    }
  }

  /** `graft_tag_drop(root, name)` — drop a tag (releases its retention
    * pin); idempotent. Returns the commit version. */
  def tagDropPlan(exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(exprs.length == 2, "usage: graft_tag_drop(root, name)")
    val root = litStr(exprs(0), "root")
    val name = litStr(exprs(1), "name")
    maintPlan("tag_drop", Seq("version")) {
      Seq(dropTag(SparkSession.active, root, name).toLong)
    }
  }

  /** `graft_tags(root)` — the tag listing (Iceberg's refs metadata
    * table): one row per live tag, commit-log metadata only. */
  def tagsPlan(exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(exprs.length == 1, "usage: graft_tags(root)")
    val root = litStr(exprs(0), "root")
    val s = SparkSession.active
    import s.implicits._
    tagsFor(root, currentVersion(root)).toSeq.sorted
      .map { case (n, g) => (n, g.toLong) }
      .toDF("tag", "generation").queryExecution.logical
  }

  /** `graft_changes(root, from, to)` — the change-feed TVF plan builder. */
  def changesPlan(exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(exprs.length == 3, "usage: graft_changes(root, from, to)")
    readChangesSince(SparkSession.active, litStr(exprs(0), "root"),
      litInt(exprs(1), "from"), litInt(exprs(2), "to"))
      .queryExecution.logical
  }

  /** `graft_asof_ts(root, tsMillis)` — TIMESTAMP AS OF from pure SQL. */
  def asOfTsPlan(exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(exprs.length == 2, "usage: graft_asof_ts(root, tsMillis)")
    readAsOfTimestamp(SparkSession.active, litStr(exprs(0), "root"),
      litLong(exprs(1), "tsMillis")).queryExecution.logical
  }

  /** `graft_row_changes(root, from, to)` — the row-level CDF from SQL. */
  def rowChangesPlan(exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(exprs.length == 3, "usage: graft_row_changes(root, from, to)")
    readRowChanges(SparkSession.active, litStr(exprs(0), "root"),
      litInt(exprs(1), "from"), litInt(exprs(2), "to"))
      .queryExecution.logical
  }

  /** `graft_row_changes_ts(root, t0Millis, t1Millis)` — the row-level
    * CDF TIME-BOUNDED (Delta's `table_changes` with timestamps, r15
    * verdict #7): both bounds resolve to generations through the q187
    * machinery ([[versionAtTime]] over in-commit timestamps), and the
    * feed is exactly [[readRowChanges]] over that range — the rows
    * changed between the snapshot in force at `t0` and the one in force
    * at `t1`. Bounds land ON a commit's timestamp inclusively (the
    * at-or-before rule), so `(ts(g0), ts(g1))` ≡ `(g0, g1]`. */
  def rowChangesTsPlan(exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(exprs.length == 3,
      "usage: graft_row_changes_ts(root, t0Millis, t1Millis)")
    val root = litStr(exprs(0), "root")
    readRowChanges(SparkSession.active, root,
      versionAtTime(root, litLong(exprs(1), "t0Millis")),
      versionAtTime(root, litLong(exprs(2), "t1Millis")))
      .queryExecution.logical
  }

  // ---- SQL maintenance verbs (r13 verdict #3): OPTIMIZE / ZORDER /
  // VACUUM as table-valued functions. The BUILDER runs at analysis time
  // (the graft_asof literal-argument contract) but the maintenance op
  // itself is gated on EXECUTION through a lazy MaintenanceNode — so
  // EXPLAIN, schema probes and never-reached script statements delete
  // nothing (r14 ADVICE); the executed row reports what the op did.
  // Delta's `OPTIMIZE t` / `VACUUM t` statements execute-and-report the
  // same way. ----------------------------------------------------------

  private def maintPlan(verb: String, cols: Seq[String])(run: => Seq[Long])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    graft.plans.MaintenanceNode.ensureStrategy(SparkSession.active)
    graft.plans.MaintenanceNode(verb, cols, () => run)
  }

  /** `graft_optimize(root, targetFiles)` — the q173 nodata bin-pack from
    * pure SQL; idempotent once within target (re-running a maintenance
    * statement must not grow the log). Returns (version, files_before,
    * files_after). */
  def optimizePlan(exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(exprs.length == 2, "usage: graft_optimize(root, targetFiles)")
    val root = litStr(exprs(0), "root")
    val target = litInt(exprs(1), "targetFiles")
    maintPlan("optimize", Seq("version", "files_before", "files_after")) {
      val s = SparkSession.active
      val before = snapshotFiles(root, currentVersion(root)).size
      val v = compact(s, root, target)
      Seq(v.toLong, before.toLong, snapshotFiles(root, v).size.toLong)
    }
  }

  /** `graft_zorder(root, c1, c2, nFiles)` — OPTIMIZE ZORDER BY from pure
    * SQL (the q185b compaction). Every call rewrites the snapshot into
    * the Z-layout (Delta's OPTIMIZE ZORDER is likewise re-runnable); the
    * commit is `nodata`, so change feeds skip it. */
  def zorderPlan(exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(exprs.length >= 4 && exprs.length <= 6,
      "usage: graft_zorder(root, c1, c2[, c3[, c4]], nFiles)")
    val root = litStr(exprs(0), "root")
    val cols = exprs.slice(1, exprs.length - 1).zipWithIndex
      .map { case (e, i) => litStr(e, s"c${i + 1}") }
    val nFiles = litInt(exprs.last, "nFiles")
    maintPlan("zorder", Seq("version", "files_after")) {
      val s = SparkSession.active
      val v = compactZOrderedN(s, root, cols, nFiles)
      Seq(v.toLong, snapshotFiles(root, v).size.toLong)
    }
  }

  /** `graft_vacuum(root[, graceMins])` — delete unreferenced data/change
    * files from pure SQL; idempotent. The optional grace window keeps
    * unreferenced files younger than `graceMins` minutes (a concurrent
    * writer's staged-but-unclaimed output — Delta's VACUUM retention).
    * Returns the deleted-file count. Destructive, so the delete runs at
    * EXECUTION, never under EXPLAIN. */
  def vacuumPlan(exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(exprs.length == 1 || exprs.length == 2,
      "usage: graft_vacuum(root[, graceMins])")
    val root = litStr(exprs(0), "root")
    val graceMs =
      if (exprs.length == 2) litLong(exprs(1), "graceMins") * 60000L else 0L
    maintPlan("vacuum", Seq("n_deleted")) {
      Seq(vacuum(root, graceMs).size.toLong)
    }
  }

  /** `graft_expire_ts(root, tsMillis)` — history retention by WALL-CLOCK
    * time (Delta's `RETAIN … HOURS`): drops every commit strictly below
    * the generation in force at `tsMillis` (q187 resolution over
    * in-commit timestamps), so everything readable at-or-after that
    * instant stays. Anchor-checkpoint rules of [[expireHistory]] apply;
    * idempotent; destructive, so it runs at EXECUTION. Returns
    * (keep_from, n_dropped). */
  def expireTsPlan(exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(exprs.length == 2, "usage: graft_expire_ts(root, tsMillis)")
    val root = litStr(exprs(0), "root")
    val ts = litLong(exprs(1), "tsMillis")
    maintPlan("expire_ts", Seq("keep_from", "n_dropped")) {
      val keepFrom = versionAtTime(root, ts)
      Seq(keepFrom.toLong, expireHistory(root, keepFrom).size.toLong)
    }
  }

  /** `graft_expire(root, keepFrom)` — history retention from pure SQL:
    * delete commits below `keepFrom` (anchor-checkpoint rules of
    * [[expireHistory]] apply — refuses without one); idempotent
    * (already-expired commits drop nothing). Returns the dropped-file
    * count; pair with `graft_vacuum` to reclaim the data bytes.
    * Destructive, so the drop runs at EXECUTION, never under EXPLAIN. */
  def expirePlan(exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(exprs.length == 2, "usage: graft_expire(root, keepFrom)")
    val root = litStr(exprs(0), "root")
    val keepFrom = litInt(exprs(1), "keepFrom")
    maintPlan("expire", Seq("n_dropped")) {
      Seq(expireHistory(root, keepFrom).size.toLong)
    }
  }

  /** `graft_restore(root, toGen)` — RESTORE from pure SQL ([[restore]]'s
    * metadata-only rollback as a lazy maintenance verb): re-adds the
    * target snapshot's files the current one dropped and retires the
    * ones it gained, as ONE new commit — `EXPLAIN SELECT * FROM
    * graft_restore(…)` restores nothing (the MaintenanceNode contract).
    * Idempotent: restoring to a state the table is already in lands no
    * commit. Returns (version, restored_gen, files_readded,
    * files_retired). */
  def restorePlan(exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(exprs.length == 2, "usage: graft_restore(root, toGen)")
    val root = litStr(exprs(0), "root")
    val toGen = litInt(exprs(1), "toGen")
    maintPlan("restore",
        Seq("version", "restored_gen", "files_readded", "files_retired")) {
      val s = SparkSession.active
      val cur = currentVersion(root)
      require(toGen >= 0 && toGen <= cur,
        s"time travel: cannot restore $root to $toGen (latest: $cur)")
      val target = snapshotFiles(root, toGen).toSet
      val current = snapshotFiles(root, cur).toSet
      val v = restore(s, root, toGen)
      Seq(v.toLong, toGen.toLong,
        (target -- current).size.toLong, (current -- target).size.toLong)
    }
  }

  /** Incremental read: the rows ADDED between two snapshots, resolved
    * from the commit log alone — the files commits (fromGen, toGen]
    * added are exactly the delta, so the scan reads ONLY those files
    * (no join, no diff of materialized snapshots). This is the
    * table-format incremental-consumption contract (Delta's "read
    * changes since version N"): at 100 TB a downstream consumer pays
    * for the delta's bytes, never the table's. Append-only by
    * construction — a remove-commit in the range means rewritten
    * history, where a file diff is no longer a row diff, so that case
    * fails loudly instead of answering wrong. */
  def readChangesSince(s: SparkSession, root: String,
      fromGen: Int, toGen: Int): DataFrame = {
    val (_, commits, _) = listLog(root)
    require(commits.exists(_._1 == fromGen) && commits.exists(_._1 == toGen) &&
        fromGen <= toGen,
      s"time travel: bad change range ($fromGen, $toGen] under $root")
    // `nodata`-flagged commits (compaction — files rearranged, rows
    // unchanged) are SKIPPED wholesale: neither their adds nor their
    // removes are part of the row delta. A file a skipped compaction
    // retired may still carry rows ADDED inside the range — retirement is
    // physical, the rows live on in the compacted files — so the delta
    // keeps reading it (data files are immutable and vacuum keeps every
    // committed file). Any OTHER remove-commit is rewritten history,
    // where a file diff is no longer a row diff: loud error (changeFiles).
    val files = changeFiles(root, fromGen, toGen)
    val raw =
      if (files.isEmpty)
        s.read.parquet(snapshotFiles(root, toGen)
          .map(f => dataPath(root, f)): _*).limit(0)
      else s.read.parquet(files.map(f => dataPath(root, f)): _*)
    // mapped tables: the files carry PHYSICAL names — project to the
    // logical schema at toGen like every user-facing read (r17; the
    // raw frame used to leak physical names through the file feed)
    val cm = colmapAsOf(root, toGen)
    if (cm.isEmpty) raw
    else {
      val present = raw.columns.toSet
      raw.select(logicalSchemaAt(root, toGen).map { f =>
        val phys = cm.getOrElse(f.name, f.name)
        if (present.contains(phys)) col(phys).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }: _*)
    }
  }

  /** Delete data files referenced by NO commit (abandoned stages, orphans
    * planted outside the protocol) and the log's temp names a writer died
    * holding. Files of superseded generations stay —
    * they back AS-OF reads; retiring history would be a log truncation,
    * a policy this library leaves to the caller. */
  def vacuum(root: String): Seq[String] = vacuum(root, 0L)

  /** [[vacuum]] with a GRACE WINDOW (Delta's VACUUM retention window):
    * an unreferenced file whose modification time is within `graceMs`
    * of now is KEPT — it may be a concurrent writer's staged output,
    * which lands in `data/` BEFORE the commit that references it claims
    * its version; an ungraceful vacuum in that window would delete the
    * winning commit's files. 0 reclaims immediately (the test-friendly
    * default of the 1-arg form); a production deployment vacuuming a
    * table with live writers should pass hours, like Delta's default
    * 7-day retention. */
  def vacuum(root: String, graceMs: Long): Seq[String] = {
    val (fs, victims) = vacuumCandidates(root, graceMs)
    // EXECUTE deletes as a distributed job once the victim count is
    // worth a task launch (r18 verdict #4 — at 10⁶ files a serial
    // driver loop is a single-threaded delete storm; Delta runs VACUUM
    // as a job): planning stays the driver-side metadata fold above,
    // one task deletes one batch. Small reclaim sets (and no active
    // session) keep the zero-overhead loop.
    val spark = SparkSession.getActiveSession
    if (victims.size >= VacuumDistributedMin && spark.nonEmpty) {
      val s = spark.get
      val conf = new org.apache.spark.util.SerializableConfiguration(
        s.sessionState.newHadoopConf())
      val paths = victims.map(_.toString)
      s.sparkContext.parallelize(paths,
        math.max(1, math.min(paths.size / 16 + 1, 64)))
        .foreachPartition { it =>
          it.foreach { p0 =>
            val p = new org.apache.hadoop.fs.Path(p0)
            p.getFileSystem(conf.value).delete(p, true)
            ()
          }
        }
    } else victims.foreach(p => fs.delete(p, true))
    victims.map(_.getName).sorted
  }

  /** Victim count at/above which [[vacuum]] deletes as a Spark job; a
    * var so the spec drives the distributed path on a fixture-sized
    * reclaim set. */
  @volatile private[graft] var VacuumDistributedMin: Int = 64

  /** VACUUM DRY RUN (Delta's `VACUUM … DRY RUN`): the files [[vacuum]]
    * WOULD delete under the same grace window, deleting nothing — the
    * audit step before an irreversible reclaim. Same planning cost. */
  def vacuumDryRun(root: String, graceMs: Long): Seq[String] =
    vacuumCandidates(root, graceMs)._2.map(_.getName).sorted

  /** The shared planning half of [[vacuum]]/[[vacuumDryRun]]: every
    * unreferenced, grace-aged data and change file, and every grace-aged
    * temp name in the log. referenced = every
    * surviving commit's adds PLUS every checkpoint's resolved file
    * list — after history expiry the oldest surviving snapshot is
    * backed by a checkpoint, not by the deleted commits — PLUS every
    * live clone's absolute references into this table (r14 verdict #4:
    * source retention must not break shallow clones) PLUS every live
    * branch's staged adds (r18: branch commits share the data
    * directory; a vacuum must not eat an unpublished branch). */
  private def vacuumCandidates(root: String, graceMs: Long)
      : (org.apache.hadoop.fs.FileSystem, Seq[org.apache.hadoop.fs.Path]) = {
    val snap = latest(root)
    val (fsL, commits, ckpts) = (snap.fs, snap.commits, snap.ckpts)
    val branchAdds = snap.branches.keySet.flatMap(n =>
      branchCommits(root, n).flatMap { case (_, f) =>
        parseArr(readBytes(fsL, f), "added") })
    def every(key: String) =
      commits.flatMap { case (v, f) => parseArr(snap.text(v, f), key) }
    val referenced = (every("added") ++
      ckpts.flatMap { case (v, f) =>
        ckptHandle(fsL, root, v, f).lines("files") }).toSet ++
      cloneReferencedNames(root) ++ branchAdds
    val now = System.currentTimeMillis()
    def aged(st: org.apache.hadoop.fs.FileStatus): Boolean =
      graceMs <= 0 || now - st.getModificationTime > graceMs
    val (fs, _) = fsFor(root)
    val d = new org.apache.hadoop.fs.Path(s"$root/data")
    val dataGone = (if (fs.exists(d)) fs.listStatus(d).toSeq else Seq.empty)
      .filter(st => st.isFile && !referenced(st.getPath.getName) && aged(st))
      .map(_.getPath)
    // change files referenced by no surviving commit (their commits were
    // expired by retention — the range is unreadable anyway) go too
    val cdcRef = every("cdc").toSet
    val cd = new org.apache.hadoop.fs.Path(cdcDir(root))
    val cdcGone = (if (fs.exists(cd)) fs.listStatus(cd).toSeq else Seq.empty)
      .filter(st => st.isFile && !cdcRef(st.getPath.getName) && aged(st))
      .map(_.getPath)
    // temp names a writer died holding between writing and claiming:
    // commit, branch-commit and checkpoint files and checkpoint-parts
    // directories (deleting one drops its `.crc` sidecars too)
    val ld = new org.apache.hadoop.fs.Path(logDir(root))
    val logGone = (if (fs.exists(ld)) fs.listStatus(ld).toSeq else Seq.empty)
      .filter(st => LogTempName.matches(st.getPath.getName) && aged(st))
      .map(_.getPath)
    (fs, dataGone ++ cdcGone ++ logGone)
  }

  private val LogTempName = """\.(c|b|ck|ckp)-[^/]*""".r

  /** History RETENTION: delete commit files below `keepFrom` (and
    * checkpoints no surviving resolution needs). Legal only when an
    * ANCHOR checkpoint exists at version keepFrom−1 or keepFrom — the
    * oldest SURVIVING generation must resolve without the deleted
    * commits, and a later checkpoint cannot serve generations below it
    * (resolution walks forward from a checkpoint, never backward).
    * Every surviving g then resolves from a kept checkpoint ≤ g plus
    * commits (ckpt, g], all ≥ keepFrom. AS-OF below keepFrom becomes the
    * explicit does-not-exist error (that IS retention); `vacuum`
    * afterwards reclaims data files only the expired history referenced,
    * while checkpoint-listed files stay. The Delta retention/VACUUM
    * pair, as two explicit library calls. */
  def expireHistory(root: String, keepFrom: Int): Seq[String] = {
    val snap = latest(root)
    val (fs, commits, ckpts) = (snap.fs, snap.commits, snap.ckpts)
    // TAGS pin their generations (Iceberg keeps tagged snapshots):
    // expiring below one would turn `VERSION AS OF 'name'` into a
    // dangling reference — refuse loudly until the tag is dropped
    val pinned = snap.tags.filter(_._2 < keepFrom)
    require(pinned.isEmpty,
      s"time travel: cannot expire below $keepFrom — tags pin earlier " +
        s"generations: ${pinned.toSeq.sorted
          .map { case (n, g) => s"$n@$g" }.mkString(", ")}; drop them " +
        "first (graft_tag_drop)")
    // BRANCHES pin their base generations the same way (r18): the
    // branch head resolves through the base snapshot — expiring it
    // would orphan every unpublished branch commit
    val pinnedB = snap.branches.filter(_._2 < keepFrom)
    require(pinnedB.isEmpty,
      s"time travel: cannot expire below $keepFrom — branches pin " +
        s"earlier bases: ${pinnedB.toSeq.sorted
          .map { case (n, g) => s"$n@$g" }.mkString(", ")}; publish or " +
        "drop them first (graft_ff / graft_branch_drop)")
    val anchor = ckpts.map(_._1)
      .filter(v => v == keepFrom - 1 || v == keepFrom).sorted.headOption
    require(anchor.nonEmpty,
      s"time travel: cannot expire below $keepFrom — no checkpoint at " +
        s"${keepFrom - 1} or $keepFrom to anchor the oldest surviving " +
        "generation; write one first (checkpoint(root))")
    val dropC = commits.filter(_._1 < keepFrom)
    val dropK = ckpts.filter(_._1 < anchor.get)
    (dropC ++ dropK).map { case (cv, f) =>
      // a parquet checkpoint's sidecar parts go with its manifest
      if (CkptName.matches(f.getName)) {
        val parts = new org.apache.hadoop.fs.Path(ckptPartsDir(root, cv))
        if (fs.exists(parts)) fs.delete(parts, true)
      }
      fs.delete(f, false); f.getName
    }.sorted
  }

  /** q157's table: gen 0 = two thirds of orders, gen 1 = the remaining
    * third appended — plus one ORPHAN parquet in the data dir that no
    * commit references (duplicate rows that would poison the oracle match
    * if any read path fell back to listing files). Built once per JVM. */
  private[graft] def ordersTable(s: SparkSession, d: String): String = {
    val root = WorkDirs.cached("graft_ttl_", s"q157:$d")
    if (currentVersion(root) < 0) {
      val orders = t(s, d, "orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      commit(s, root, orders.filter(col("o_orderkey") % 3 =!= 0))
      commit(s, root, orders.filter(col("o_orderkey") % 3 === 0))
      orders.limit(100).write.mode("overwrite").parquet(s"$root/orphan")
      Option(new java.io.File(s"$root/orphan").listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet")).take(1).foreach { f =>
          java.nio.file.Files.move(f.toPath,
            java.nio.file.Paths.get(s"$root/data/orphan-${f.getName}"))
        }
      WorkDirs.deleteTree(java.nio.file.Paths.get(s"$root/orphan"))
    }
    root
  }

  /** q163's table: EIGHT append generations (commit g holds the
    * o_orderkey % 8 == g slice) with a checkpoint written at version 5 —
    * deep enough that checkpointed resolution provably skips commits
    * 0..5 (TimeTravelSpec counts the parses). Built once per JVM. */
  private[graft] def ordersTableDeep(s: SparkSession, d: String): String = {
    val root = WorkDirs.cached("graft_ttl8_", s"q163:$d")
    if (currentVersion(root) < 0) {
      val orders = t(s, d, "orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      (0 until 8).foreach { g =>
        commit(s, root, orders.filter(col("o_orderkey") % 8 === g))
        if (g == 5) checkpoint(root)
      }
    }
    root
  }

  /** q169's bucketed table: the orders slice committed once per JVM via
    * [[commitBucketed]] (8 key-hash buckets, one file each). */
  private[graft] def ordersTableBucketed(s: SparkSession, d: String): String = {
    val root = WorkDirs.cached("graft_ttlm_", s"q169:$d")
    if (currentVersion(root) < 0)
      commitBucketed(s, root,
        t(s, d, "orders")
          .select("o_orderkey", "o_orderpriority", "o_totalprice"),
        "o_orderkey", 8)
    root
  }

  /** q170's range-clustered table with per-file stats in the log. */
  private[graft] def ordersTableClustered(s: SparkSession, d: String): String = {
    val root = WorkDirs.cached("graft_ttlc_", s"q170:$d")
    if (currentVersion(root) < 0)
      commitClustered(s, root,
        t(s, d, "orders")
          .select("o_orderkey", "o_orderpriority", "o_totalprice"),
        "o_orderkey", 8)
    root
  }

  /** q171's schema-evolved table: gen 0 holds the EVEN keys under the
    * 3-column schema; gen 1 appends the ODD keys with an added
    * `o_flag = o_orderkey % 5` column. */
  private[graft] def ordersTableEvolved(s: SparkSession, d: String): String = {
    val root = WorkDirs.cached("graft_ttle_", s"q171:$d")
    if (currentVersion(root) < 0) {
      val orders = t(s, d, "orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
      commit(s, root, orders.filter(col("o_orderkey") % 2 === 0))
      commit(s, root, orders.filter(col("o_orderkey") % 2 === 1)
        .withColumn("o_flag", col("o_orderkey") % 5))
    }
    root
  }

  val qs: Seq[Q] = Seq(

    // Q157 snapshot isolation / AS-OF read: the same committed layout
    // answers BOTH generations after the append — gen 0's snapshot is
    // byte-stable (append-only files + log-resolved file sets), and the
    // planted orphan file proves reads come from the commit log, not a
    // directory listing. Oracle: DuckDB replays each generation's split
    // predicate over the source table.
    Q("q157_time_travel",
      Some("""SELECT CAST(0 AS BIGINT) AS gen, o_orderpriority,
             |  count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM orders WHERE o_orderkey % 3 <> 0 GROUP BY o_orderpriority
             |UNION ALL
             |SELECT CAST(1 AS BIGINT) AS gen, o_orderpriority,
             |  count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM orders GROUP BY o_orderpriority
             |ORDER BY gen, o_orderpriority""".stripMargin),
      (s, d) => {
        val root = ordersTable(s, d)
        def snap(gen: Int): DataFrame =
          readAsOf(s, root, gen)
            .groupBy("o_orderpriority")
            .agg(count(lit(1)).as("n"),
              sum(col("o_totalprice").cast("decimal(18,2)"))
                .cast("double").as("total"))
            .select(lit(gen.toLong).as("gen"), col("o_orderpriority"),
              col("n"), col("total"))
        snap(0).unionAll(snap(1)).orderBy("gen", "o_orderpriority")
      }),

    // Q160 incremental snapshot consumption: the rows generation 1 added,
    // resolved from the COMMIT LOG's file sets — the scan reads only the
    // delta's files (no snapshot diff, no join; TimeTravelSpec asserts
    // the plan touches exactly the added files). Oracle replays the
    // append split over the source table.
    Q("q160_snapshot_changes",
      Some("""SELECT o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM orders WHERE o_orderkey % 3 = 0 GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin),
      (s, d) => {
        val root = ordersTable(s, d)
        readChangesSince(s, root, 0, 1)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast("decimal(18,2)"))
              .cast("double").as("total"))
          .orderBy("o_orderpriority")
      }),

    // Q163 checkpointed AS-OF resolution: an 8-generation log with a
    // checkpoint at version 5 — reading AS OF 7 parses the checkpoint
    // plus commits 6..7 only (TimeTravelSpec counts the parses), and AS
    // OF 3, BELOW the checkpoint, still replays commits 0..3 correctly.
    // Oracle replays both generation predicates over the source table.
    Q("q163_log_checkpoint",
      Some("""SELECT CAST(3 AS BIGINT) AS gen, o_orderpriority,
             |  count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM orders WHERE o_orderkey % 8 <= 3 GROUP BY o_orderpriority
             |UNION ALL
             |SELECT CAST(7 AS BIGINT) AS gen, o_orderpriority,
             |  count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM orders GROUP BY o_orderpriority
             |ORDER BY gen, o_orderpriority""".stripMargin),
      (s, d) => {
        val root = ordersTableDeep(s, d)
        def snap(gen: Int): DataFrame =
          readAsOf(s, root, gen)
            .groupBy("o_orderpriority")
            .agg(count(lit(1)).as("n"),
              sum(col("o_totalprice").cast("decimal(18,2)"))
                .cast("double").as("total"))
            .select(lit(gen.toLong).as("gen"), col("o_orderpriority"),
              col("n"), col("total"))
        snap(3).unionAll(snap(7)).orderBy("gen", "o_orderpriority")
      }),

    // Q166 SQL AS-OF surface (r12 verdict #7): the SAME snapshots q157
    // reads, but queried through pure SQL — `graft_asof(root, gen)` in
    // FROM position, via the registered table-valued function. The TVF
    // resolves the file list from the commit log at analysis time, so
    // the planned scan is identical to the library call's (orphan still
    // invisible). Oracle: q157's generation-split replay, hash-checked.
    Q("q166_sql_asof",
      Some("""SELECT CAST(0 AS BIGINT) AS gen, o_orderpriority,
             |  count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM orders WHERE o_orderkey % 3 <> 0 GROUP BY o_orderpriority
             |UNION ALL
             |SELECT CAST(1 AS BIGINT) AS gen, o_orderpriority,
             |  count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM orders GROUP BY o_orderpriority
             |ORDER BY gen, o_orderpriority""".stripMargin),
      (s, d) => {
        val root = ordersTable(s, d)
        graft.GraftFunctions.register(s) // idempotent createOrReplace
        s.sql(
          s"""SELECT CAST(0 AS BIGINT) AS gen, o_orderpriority,
             |  count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM graft_asof('$root', 0) GROUP BY o_orderpriority
             |UNION ALL
             |SELECT CAST(1 AS BIGINT) AS gen, o_orderpriority,
             |  count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM graft_asof('$root', 1) GROUP BY o_orderpriority
             |ORDER BY gen, o_orderpriority""".stripMargin)
      }),

    // Q169 log-native MERGE (upsert) with bucket pruning: a bucketed
    // commit-log table takes a mixed update+insert source; only the
    // buckets the source keys hash into are read and rewritten
    // (TimeTravelSpec asserts untouched buckets keep their physical
    // files), the commit retires exactly the rewritten files, and the
    // remove-conflict validation makes racing merges one-winner-safe.
    // Idempotent by construction (the source is a pure function of the
    // original orders), so repeated invocations re-merge to the same
    // state. Oracle: FULL-JOIN merge semantics replayed in SQL.
    Q("q169_log_merge",
      Some("""WITH base AS (SELECT o_orderkey AS k, o_orderpriority AS p,
             |                     o_totalprice AS v FROM orders),
             |src AS (
             |  SELECT k, p, v + 1000 AS v FROM base WHERE k % 10 = 3
             |  UNION ALL
             |  SELECT k + 10000000 AS k, p, v FROM base WHERE k % 100 = 7),
             |m AS (
             |  SELECT COALESCE(s.k, b.k) AS k, COALESCE(s.p, b.p) AS p,
             |         COALESCE(s.v, b.v) AS v
             |  FROM base b FULL JOIN src s ON b.k = s.k)
             |SELECT p AS o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM m GROUP BY p ORDER BY p""".stripMargin),
      (s, d) => {
        val root = ordersTableBucketed(s, d)
        val orders = t(s, d, "orders")
          .select("o_orderkey", "o_orderpriority", "o_totalprice")
        val source = orders.filter(col("o_orderkey") % 10 === 3)
            .withColumn("o_totalprice", col("o_totalprice") + lit(1000.0d))
          .unionByName(orders.filter(col("o_orderkey") % 100 === 7)
            .withColumn("o_orderkey", col("o_orderkey") + lit(10000000L)))
        mergeInto(s, root, source, "o_orderkey", 8)
        readAsOf(s, root, currentVersion(root))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast("decimal(18,2)"))
              .cast("double").as("total"))
          .orderBy("o_orderpriority")
      }),

    // Q170 log-stats data skipping: a range-clustered commit records each
    // file's (min, max) of the sort key IN THE COMMIT; a range read then
    // prunes files from log metadata alone — no footer reads, no opens
    // for skipped files (TimeTravelSpec asserts the scanned set), with
    // the residual filter keeping exactness. Oracle: the same range
    // aggregate over the source table (bounds derived identically —
    // truncating integer division of max(o_orderkey)).
    Q("q170_log_stats_skipping",
      Some("""WITH p AS (SELECT max(o_orderkey)//4 AS lo,
             |                  max(o_orderkey)//2 AS hi FROM orders)
             |SELECT o_orderpriority, count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM orders, p WHERE o_orderkey BETWEEN p.lo AND p.hi
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
      (s, d) => {
        val root = ordersTableClustered(s, d)
        val mx = t(s, d, "orders").agg(max("o_orderkey")).head().getLong(0)
        readAsOfWhere(s, root, currentVersion(root), "o_orderkey",
          mx / 4, mx / 2)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast("decimal(18,2)"))
              .cast("double").as("total"))
          .orderBy("o_orderpriority")
      }),

    // Q171 schema evolution on the commit log (schema-on-read, Delta's
    // add-column shape): each commit logs its schema; AS-OF 0 presents
    // the original 3 columns, AS-OF 1 presents the evolved 4 — gen-0
    // files NULL-FILL the added o_flag, so counting/summing it over the
    // full snapshot touches exactly the gen-1 rows (the value the oracle
    // pins). Old snapshots keep their own schema forever.
    Q("q171_schema_evolution",
      Some("""SELECT CAST(0 AS BIGINT) AS gen, o_orderpriority,
             |  count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
             |  CAST(NULL AS BIGINT) AS nflags, CAST(NULL AS BIGINT) AS sumflag
             |FROM orders WHERE o_orderkey % 2 = 0 GROUP BY o_orderpriority
             |UNION ALL
             |SELECT CAST(1 AS BIGINT) AS gen, o_orderpriority,
             |  count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
             |  count(CASE WHEN o_orderkey % 2 = 1 THEN 1 END) AS nflags,
             |  CAST(sum(CASE WHEN o_orderkey % 2 = 1
             |           THEN o_orderkey % 5 END) AS BIGINT) AS sumflag
             |FROM orders GROUP BY o_orderpriority
             |ORDER BY gen, o_orderpriority""".stripMargin),
      (s, d) => {
        val root = ordersTableEvolved(s, d)
        val snap0 = readAsOf(s, root, 0)
        require(!snap0.columns.contains("o_flag"),
          "generation 0 must present its own 3-column schema")
        val leg0 = snap0
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast("decimal(18,2)"))
              .cast("double").as("total"))
          .select(lit(0L).as("gen"), col("o_orderpriority"), col("n"),
            col("total"), lit(null).cast("bigint").as("nflags"),
            lit(null).cast("bigint").as("sumflag"))
        val leg1 = readAsOf(s, root, 1)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast("decimal(18,2)"))
              .cast("double").as("total"),
            count(col("o_flag")).as("nflags"),
            sum(col("o_flag")).as("sumflag"))
          .select(lit(1L).as("gen"), col("o_orderpriority"), col("n"),
            col("total"), col("nflags"), col("sumflag"))
        leg0.unionAll(leg1).orderBy("gen", "o_orderpriority")
      })
  )
}
