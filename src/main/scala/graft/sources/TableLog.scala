package graft.sources

import java.util.UUID

import scala.collection.mutable

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Minimal transaction-logged table format — the snapshot/time-travel
  * layer a 100 TB lake needs on top of raw parquet directories
  * (role model: the reference's dataset layer, which scans a
  * *static* file listing — `cpp/src/arrow/dataset/dataset.h:156-210`;
  * this adds the missing notion of WHICH files constitute the table
  * at a point in time).
  *
  * Layout: `<root>/_log/v00000.json, v00001.json, ...` — one JSON
  * entry per commit, listing data files ADDED and files REMOVED
  * (paths relative to root); data files live under `<root>/data/` in
  * per-commit subdirectories. The log is the single source of truth:
  *
  *  - **Visibility = log publish.** Data files are fully written
  *    BEFORE their log entry exists, and readers resolve the file
  *    list from the log — so a reader can never observe a
  *    half-written commit (the weakness the ADVICE review noted in
  *    the raw IPC directory sink is structural here, not patched).
  *  - **Snapshot isolation.** [[snapshot]] resolves the live file
  *    set EAGERLY at call time; concurrent appends/compactions
  *    publish new versions but never mutate or delete listed files,
  *    so an open snapshot stays stable for its lifetime (until
  *    [[vacuum]] reclaims delisted files).
  *  - **Time travel.** `snapshot(root, version = v)` replays the log
  *    prefix `<= v`.
  *  - **Optimistic concurrency.** Commit = write temp JSON, then an
  *    ATOMIC fail-if-exists publish to `v<next>.json` ([[CasFs]]:
  *    `link(2)` on local filesystems, rename on HDFS where it
  *    already refuses an existing destination); on loss (version
  *    taken) re-read the log and retry at the next number. There is
  *    no exists+rename TOCTOU window anywhere in the protocol.
  *    Object stores without atomic rename need a commit coordinator,
  *    as Delta's S3 LogStore does.
  *    Removing commits additionally re-validate on every attempt
  *    that their whole remove set is still live, so a layout rewrite
  *    racing a delete ABORTS rather than resurrecting deleted rows;
  *    add-only appends still merge freely.
  *  - **Log checkpoints.** Every `spark.graft.tablelog
  *    .checkpointInterval` (default 100) commits, the winning writer
  *    materializes the live state as `_log/ckpt-v%05d.tsv`; readers
  *    load the newest checkpoint at or below their target version
  *    and replay only the JSON suffix — O(interval) planning I/O per
  *    snapshot instead of O(#commits) (Delta's checkpoint.parquet
  *    analogue). Checkpoints are caches: best-effort, deletable,
  *    never consulted below their own version.
  *  - **Compaction is a commit.** [[compact]] rewrites the live set
  *    into fewer files and publishes {add: new, remove: old} in ONE
  *    entry — readers switch atomically, old snapshots keep working.
  *  - **Per-file stats → metadata-level pruning.** A commit written
  *    with `statsCols` carries a TSV sidecar of per-file min/max for
  *    those (long-valued) columns; [[readRange]] drops files whose
  *    range cannot intersect the predicate WITHOUT opening them. At
  *    millions of files this is the difference between O(matching)
  *    and O(all footers) planning; parquet's own row-group stats
  *    still prune WITHIN the files that survive. Files with no stats
  *    are always read (pruning can drop a file only when its stats
  *    prove it irrelevant), and the residual filter is always
  *    applied, so stats can never change an answer — only planning.
  *  - **Explicit schema evolution.** Every data-writing commit
  *    records its DataFrame schema (base64 of the DataType JSON, so
  *    the log line stays one-line-regular); [[tableSchema]] resolves
  *    the declared schema as of any version. Writes whose schema
  *    CHANGES an existing column's type outside the widening order,
  *    or DROPS a non-nullable column, are rejected at CAS time
  *    (re-checked on every publish attempt, so a racing evolution
  *    cannot slip through) — before this, evolution was implicit via
  *    `mergeSchema` reads and a bad writer corrupted silently.
  *    [[widenColumn]] performs Delta-3.x-style TYPE WIDENING as a
  *    metadata-only commit (int→long, float→double, …): no file
  *    rewrite — old narrow files widen at scan time via the explicit
  *    declared-schema read ([[readUnion]]), post-widen narrow writes
  *    upcast with the declared type staying wide, and a stream whose
  *    start schema predates the widening refuses loudly rather than
  *    narrow-casting. Additive evolution is first-class:
  *    [[addColumn]] publishes a metadata-only commit declaring a new
  *    nullable column, and [[snapshot]] presents the declared schema
  *    (missing-on-disk columns read as null, declared order, extras
  *    from dropped nullable columns hidden). Logs written before
  *    this feature have no schema records and keep the old implicit
  *    behavior.
  *  - **Row-level delete rewrites only matching files.**
  *    [[deleteRange]] uses the same stats to rewrite ONLY files that
  *    can contain matches, publishing {add: rewritten, remove:
  *    matched} in one commit; untouched files keep their identity
  *    (and stats). Pre-delete versions remain time-travelable.
  *  - **CHECK constraints.** [[addConstraint]] declares a named
  *    boolean SQL expression (validated against the current snapshot
  *    first) as a metadata-only commit; every subsequent data write
  *    is rejected — files deleted before any log entry exists — if a
  *    row definitively violates one (SQL semantics: NULL passes).
  *    Zero cost while no constraints are declared.
  *  - **Change data feed (Delta CDF parity).** With
  *    `spark.graft.tablelog.cdf` on, mutating commits capture their
  *    changed rows (tagged `_change_type`) as a parquet sidecar the
  *    log entry points at; [[tableChanges]] serves the row-level feed
  *    for any version range — appends derive 'insert' from their add
  *    lists with no sidecar, layout rewrites emit nothing, and a
  *    mutating commit captured without the feed refuses loudly.
  *  - **Deletion vectors (Delta DV / Iceberg positional-delete
  *    parity).** [[deleteVector]] deletes rows WITHOUT rewriting any
  *    data file: the matching (file, row position) pairs are written
  *    as a parquet sidecar and the commit records the active sidecar
  *    list (`"dvs":[...]` = the FULL post-commit state, so replay is
  *    last-writer-wins and old logs parse unchanged). Every read path
  *    ([[snapshot]]/[[readRange]]/[[readBox]]) and every rewriting
  *    mutation ([[deleteRange]]/[[merge]]/[[mergeUpdate]]) drops the
  *    rows the active vectors name by (file key, `_metadata.row_index`)
  *    — below `spark.graft.tablelog.dv.broadcastMaxBytes` (32 MB
  *    default, decided from driver-side file lengths, no extra job) the
  *    vectors are read on the driver and the parquet reader drops their
  *    rows by row index, above it they are anti-joined with a shuffle. Layout
  *    rewrites ([[rewrite]]/[[compact]]/[[overwrite]]) MATERIALIZE the
  *    deletes (they rewrite from the DV-filtered snapshot) and clear
  *    the vector state; [[restore]] restores it; [[vacuum]] reclaims
  *    unreachable sidecars. At 100 TB this is the difference between
  *    deleting 0.1% of rows by appending kilobytes and rewriting
  *    terabytes. Lost-update races (a delete landing between a
  *    rewrite's read and its publish, or vice versa) abort through
  *    CAS-time expected-state revalidation, same posture as the
  *    remove-set check.
  *
  * Scale posture: the log is O(#commits) driver-side metadata and
  * stats are O(#files · #statsCols); data moves only through
  * distributed parquet jobs. Nothing here shuffles.
  */
object TableLog {

  private def fs(s: SparkSession, p: String): FileSystem =
    new Path(p).getFileSystem(s.sparkContext.hadoopConfiguration)

  private def logPath(root: String, v: Int): Path =
    new Path(f"$root/_log/v$v%05d.json")

  // (kept trivially regular so the hand-rolled parser below cannot
  // drift from the writer: paths are uuid/part names, never quoted
  // metacharacters)
  private def render(version: Int, add: Seq[String], remove: Seq[String],
      statsFile: Option[String], dataChange: Boolean,
      txn: Option[(String, Long)] = None,
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      cdc: Option[String] = None,
      check: Option[(String, String)] = None,
      uncheck: Option[String] = None,
      dvs: Option[Seq[String]] = None): String = {
    def arr(xs: Seq[String]) = xs.map(x => "\"" + x + "\"").mkString("[", ",", "]")
    val st = statsFile.map(p => s""","stats":"$p"""").getOrElse("")
    val tx = txn.map { case (a, v) =>
      require(!a.contains('"') && !a.contains(':'),
        s"txn app id must not contain quotes or ':': $a")
      s""","txn":"$a:$v""""
    }.getOrElse("")
    // base64 keeps the schema's own JSON (quotes, braces) out of the
    // line so the regex parsers above stay sound
    val sc = schema.map(sch => s""","schema":"${base64(sch.json)}"""")
      .getOrElse("")
    val cd = cdc.map(p => s""","cdc":"$p"""").getOrElse("")
    // constraint expression rides base64 for the same reason as schema
    val ck = check.map { case (n, e) =>
      require(n.matches("[A-Za-z0-9_]+"), s"constraint name must be [A-Za-z0-9_]+: $n")
      s""","check":"$n:${base64(e)}""""
    }.getOrElse("")
    val uk = uncheck.map(n => s""","uncheck":"$n"""").getOrElse("")
    // dvs renders the FULL post-commit deletion-vector state: absence
    // means "unchanged", an empty array means "cleared" — so replay is
    // a plain last-writer-wins scan and pre-DV logs need no migration
    val dv = dvs.map(ds => s""","dvs":${arr(ds)}""").getOrElse("")
    s"""{"version":$version,"add":${arr(add)},"remove":${arr(remove)}$st$tx$sc$cd$ck$uk$dv,"dataChange":$dataChange}"""
  }

  private def parseCdc(json: String): Option[String] =
    "\"cdc\":\"([^\"]*)\"".r.findFirstMatchIn(json).map(_.group(1))

  /** None = this commit does not change deletion-vector state;
    * Some(list) = the full active-sidecar list after this commit. */
  private def parseDvs(json: String): Option[Seq[String]] =
    if (!json.contains("\"dvs\":")) None else Some(parseArr(json, "dvs"))

  /** An entry naming a file OUTSIDE this table's root (absolute path or
    * URI) — introduced by [[clone]]; read as-is, never vacuumed here. */
  private def isExternal(rel: String): Boolean =
    rel.startsWith("/") || rel.contains("://")

  private def abs(root: String, rel: String): String =
    if (isExternal(rel)) rel else s"$root/$rel"

  private def parseCheck(json: String): Option[(String, String)] =
    "\"check\":\"([A-Za-z0-9_]+):([^\"]+)\"".r.findFirstMatchIn(json).map(m =>
      (m.group(1), unbase64(m.group(2))))

  private def base64(text: String): String =
    java.util.Base64.getEncoder.encodeToString(text.getBytes("UTF-8"))

  private def unbase64(b64: String): String =
    new String(java.util.Base64.getDecoder.decode(b64), "UTF-8")

  private def parseUncheck(json: String): Option[String] =
    "\"uncheck\":\"([A-Za-z0-9_]+)\"".r.findFirstMatchIn(json).map(_.group(1))

  private def parseSchema(json: String)
      : Option[org.apache.spark.sql.types.StructType] =
    "\"schema\":\"([^\"]+)\"".r.findFirstMatchIn(json).map { m =>
      org.apache.spark.sql.types.DataType.fromJson(unbase64(m.group(1)))
        .asInstanceOf[org.apache.spark.sql.types.StructType]
    }

  private def parseTxn(json: String): Option[(String, Long)] =
    "\"txn\":\"([^\":]+):(-?\\d+)\"".r.findFirstMatchIn(json)
      .map(m => (m.group(1), m.group(2).toLong))

  private def parseArr(json: String, key: String): Seq[String] = {
    val m = ("\"" + key + "\":\\[([^\\]]*)\\]").r.findFirstMatchIn(json)
    m.map(_.group(1)).filter(_.nonEmpty)
      .map(_.split(",").toSeq.map(_.stripPrefix("\"").stripSuffix("\"")))
      .getOrElse(Seq.empty)
  }

  private def parseStats(json: String): Option[String] =
    "\"stats\":\"([^\"]*)\"".r.findFirstMatchIn(json).map(_.group(1))

  // absent (pre-flag entries) defaults to true: treat unknown commits
  // as data changes, never silently skip rows
  private def parseDataChange(json: String): Boolean =
    !json.contains("\"dataChange\":false")

  private def readText(f: FileSystem, p: Path): String = {
    val c = activeCache.get
    if (c != null && p.toString.startsWith(c.logDirPrefix))
      c.textCached(p.toString, rawReadText(f, p))
    else rawReadText(f, p)
  }

  private def rawReadText(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try {
      val bytes = new Array[Byte](f.getFileStatus(p).getLen.toInt)
      in.readFully(bytes); new String(bytes, "UTF-8")
    } finally in.close()
  }

  // ---- per-publish log cache ----------------------------------------
  /** Scoped cache making a CAS retry storm O(new commits) per attempt
    * instead of O(log directory listing) per attempt: installed for
    * the duration of ONE [[publish]] call (ThreadLocal — the commit
    * loop is driver-side, single-threaded; Spark jobs never read the
    * log). Published log entries are immutable, so their text caches
    * for the call's lifetime; the version list grows monotonically
    * and is EXTENDED between attempts by probing `exists(vLast+1…)`
    * — O(#commits landed since we last looked) — never by re-listing
    * the directory. Sound because versions are dense: every writer
    * targets exactly last+1 and the atomic publish closes gaps.
    * Checkpoints are pure caches and are listed once per publish —
    * a checkpoint landing mid-retry is simply not used this call. */
  private final class LogCache(f: FileSystem, val root: String) {
    val logDirPrefix: String = new Path(s"$root/_log").toString + "/"
    var listings = 0                 // directory listings this publish
    private var vs: Vector[Int] = null
    private var ckpts: Seq[Int] = null
    private val texts = mutable.Map.empty[String, String]
    def versionsCached(list: => Seq[Int]): Seq[Int] = {
      if (vs == null) { listings += 1; vs = list.toVector }
      else vs = extendKnownVersions(f, root, vs)
      vs
    }
    def checkpointsCached(list: => Seq[Int]): Seq[Int] = {
      if (ckpts == null) { listings += 1; ckpts = list }
      ckpts
    }
    def textCached(key: String, read: => String): String =
      texts.getOrElseUpdate(key, read)
  }
  /** Extend an already-known dense version prefix WITHOUT re-listing
    * the log directory: probe `exists(last+1…)` — O(commits landed
    * since the caller last looked). Includes dense-log gap repair: a
    * readdir racing two concurrent commits can return vN+1's entry
    * while missing vN's (the enumeration already passed vN's slot
    * when it landed); versions are dense by the publish protocol, so
    * any gap means a raced listing and the gaps are exists-probed.
    * O(1) when dense, O(#gaps) otherwise. Shared by the per-publish
    * [[LogCache]] and the streaming source's per-trigger planning. */
  private[sources] def extendKnownVersions(f: FileSystem, root: String,
      known: Vector[Int]): Vector[Int] = {
    var vs = known
    if (vs.nonEmpty && vs.length.toLong != vs.last.toLong - vs.head + 1) {
      val have = vs.toSet
      vs = (vs.head to vs.last)
        .filter(v => have(v) || f.exists(logPath(root, v))).toVector
    }
    var next = if (vs.isEmpty) 0 else vs.last + 1
    while (f.exists(logPath(root, next))) { vs = vs :+ next; next += 1 }
    vs
  }

  /** The streaming source's planning hook: `known` = the versions it
    * has already seen (null for the first call → one full listing);
    * afterwards each trigger pays O(new commits) exists-probes, never
    * a directory listing — the "planning I/O is O(new) per trigger"
    * contract.
    *
    * `floor` = the source's startExclusive. The initial readdir can
    * race a fresh table's earliest commits — the enumeration passes
    * v0's slot before v0 lands yet still catches v1 — and because the
    * source caches `known` for its lifetime (no per-trigger re-list),
    * a below-head miss would otherwise be skipped PERMANENTLY.
    * Versions are dense by the publish protocol, so a first listing
    * whose head sits above floor+1 gets the gap (floor, head)
    * exists-probed once; later triggers only extend past the tail and
    * interior gaps are already repaired by [[extendKnownVersions]]. */
  private[sources] def versionsIncremental(s: SparkSession, root: String,
      known: Vector[Int], floor: Int): Vector[Int] =
    if (known == null)
      repairBelowHead(fs(s, root), root, versions(s, root).toVector, floor)
    else extendKnownVersions(fs(s, root), root, known)

  /** Exists-probe the (floor, head) gap of an initial listing — see
    * [[versionsIncremental]]. Separated so the raced-readdir shape
    * (listing caught v1, missed v0) is directly testable. */
  private[graft] def repairBelowHead(f: FileSystem, root: String,
      listed: Vector[Int], floor: Int): Vector[Int] =
    if (listed.isEmpty || listed.head.toLong <= floor.toLong + 1) listed
    else ((floor + 1) until listed.head)
      .filter(v => f.exists(logPath(root, v))).toVector ++ listed

  private val activeCache = new ThreadLocal[LogCache]
  /** Test hook: (root, directory listings, CAS attempts) of the most
    * recently COMPLETED publish, any thread. */
  @volatile private[graft] var lastPublishFootprint: (String, Int, Int) = null

  /** Committed versions in ascending order (empty for a fresh root). */
  def versions(s: SparkSession, root: String): Seq[Int] = {
    val c = activeCache.get
    if (c != null && c.root == root) c.versionsCached(rawVersions(s, root))
    else rawVersions(s, root)
  }

  private def rawVersions(s: SparkSession, root: String): Seq[Int] = {
    val f = fs(s, root)
    val dir = new Path(s"$root/_log")
    if (!f.exists(dir)) return Seq.empty
    f.listStatus(dir).map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".json"))
      .map(n => n.stripPrefix("v").stripSuffix(".json").toInt)
      .sorted.toSeq
  }

  // ---- log checkpoints ---------------------------------------------------
  // Replaying O(#commits) JSON entries per snapshot is the metadata
  // bottleneck a long-lived table hits (Delta's checkpoint.parquet
  // analogue). Every `checkpointInterval` commits the PUBLISHING
  // writer also materializes the full live state as one TSV
  // (`_log/ckpt-v%05d.tsv`, "relpath<TAB>statsRel" per line, in
  // insertion order); [[replay]] then loads the newest checkpoint at
  // or below the requested version and replays only the JSON suffix.
  // Checkpoints are pure caches: best-effort to write (a loser of the
  // create race just skips), safe to delete, and never consulted for
  // versions below their own.

  private def ckptPath(root: String, v: Int): Path =
    new Path(f"$root/_log/ckpt-v$v%05d.tsv")

  private def checkpointInterval(s: SparkSession): Int =
    s.conf.getOption("spark.graft.tablelog.checkpointInterval")
      .map(_.toInt).getOrElse(100)

  private def checkpointVersions(s: SparkSession, root: String): Seq[Int] = {
    val c = activeCache.get
    if (c != null && c.root == root)
      c.checkpointsCached(rawCheckpointVersions(s, root))
    else rawCheckpointVersions(s, root)
  }

  private def rawCheckpointVersions(s: SparkSession, root: String): Seq[Int] = {
    val f = fs(s, root)
    val dir = new Path(s"$root/_log")
    if (!f.exists(dir)) return Seq.empty
    f.listStatus(dir).map(_.getPath.getName)
      .filter(n => n.startsWith("ckpt-v") && n.endsWith(".tsv"))
      .map(n => n.stripPrefix("ckpt-v").stripSuffix(".tsv").toInt)
      .sorted.toSeq
  }

  /** Sentinel last line of a checkpoint: a reader that finds it knows
    * the file was completely written (create+write+close in place
    * would expose an empty or torn prefix to a concurrent
    * [[replay]], silently dropping every file <= the checkpoint
    * version from the live set). Belt: the tmp+rename below makes the
    * file appear atomically, same CAS protocol as [[publish]].
    * Suspenders: a checkpoint missing the sentinel (pre-sentinel
    * writer, torn non-atomic filesystem copy) is treated as absent and
    * the reader falls back to raw JSON replay — checkpoints are pure
    * caches, never trusted over the log. */
  private val CkptEnd = "#end"

  /** Marker line of a checkpoint that carries the declared CHECK
    * constraints ("#check\tname\tbase64(expr)", none when the table
    * has none). A checkpoint without it predates constraints riding
    * the checkpoint and is treated as absent, so a constraint is never
    * dropped: an old table pays one JSON replay until its next
    * checkpoint. */
  private val CkptChecks = "#checks"

  private def writeCheckpoint(s: SparkSession, root: String, v: Int): Unit = {
    val st = state(s, root, v)
    // txn watermarks, active deletion vectors and CHECK constraints
    // ride the checkpoint too ("#txn\tapp\tversion", "#dv\t<dir>"),
    // so every [[state]] replays O(interval) JSON entries, not
    // O(#commits); the schema does not ride — [[replay]] finds it in
    // the entries
    val txns = st.txns.toSeq.sortBy(_._1)
      .map { case (a, tv) => s"#txn\t$a\t$tv" }
    val dvLines = st.dvs.map(d => s"#dv\t$d")
    val checks = st.constraints.toSeq.map { case (n, e) =>
      s"#check\t$n\t${base64(e)}" } :+ CkptChecks
    val body = (st.live.map { case (p, stats) => s"$p\t${stats.getOrElse("")}" } ++
      txns ++ dvLines ++ checks :+ CkptEnd).mkString("", "\n", "\n")
    val f = fs(s, root)
    try {
      val tmp = new Path(s"$root/_log/.tmp-ckpt-${UUID.randomUUID()}")
      val out = f.create(tmp, false)
      try out.write(body.getBytes("UTF-8")) finally out.close()
      val target = ckptPath(root, v)
      if (!CasFs.publish(f, tmp, target))
        f.delete(tmp, false)          // lost the race: a ckpt exists, skip
    } catch { case _: java.io.IOException => () } // best-effort cache
  }

  /** Parse the checkpoint of version `v` into its table state (the
    * schema is not in it); None when the file is incomplete (no
    * [[CkptEnd]] sentinel), predates constraints riding it (no
    * [[CkptChecks]] marker) or is malformed (a line without a tab, an
    * unknown directive) — the caller then ignores the checkpoint
    * entirely. */
  private def parseCheckpoint(v: Int, body: String): Option[TableState] = {
    val lines = body.split('\n').filter(_.nonEmpty)
    if (lines.isEmpty || lines.last != CkptEnd) return None
    val (directives, entries) = lines.dropRight(1).partition(_.startsWith("#"))
    if (entries.exists(!_.contains('\t'))) return None
    if (!directives.contains(CkptChecks)) return None
    val txns = mutable.Map.empty[String, Long]
    val dvs = mutable.ArrayBuffer.empty[String]
    val checks = mutable.LinkedHashMap.empty[String, String]
    directives.map(_.split('\t')).foreach {
      case Array("#txn", app, tv) => txns(app) = tv.toLong
      case Array("#dv", dir) => dvs += dir
      case Array("#check", n, e) => checks(n) = unbase64(e)
      case Array(CkptChecks) => ()
      case _ => return None
    }
    Some(TableState(v, entries.toSeq.map { line =>
      val i = line.indexOf('\t')
      val st = line.substring(i + 1)
      (line.substring(0, i), if (st.isEmpty) None else Some(st))
    }, dvs.toSeq, txns.toMap, None, checks.toMap))
  }

  /** The table as of one replayed `version`: the live file set
    * (relative paths, insertion-ordered) with the stats sidecar of the
    * commit that added each file, the active deletion vectors, the
    * per-app transaction watermarks, the declared schema (None for
    * logs written before schema recording) and the declared CHECK
    * constraints by name. Every operation resolves it once per version
    * it needs ([[state]]) and takes files, vectors, schema and
    * constraints from that one value, so they always belong to the
    * same version. */
  private[graft] final case class TableState(version: Int,
      live: Seq[(String, Option[String])], dvs: Seq[String],
      txns: Map[String, Long],
      schema: Option[org.apache.spark.sql.types.StructType],
      constraints: Map[String, String]) {
    def files: Seq[String] = live.map(_._1)
  }

  /** The table as of `version` (-1 = latest), from one [[replay]].
    * With no version at or below `version`, `strict` refuses and
    * otherwise the state is empty (version -1). */
  private[graft] def state(s: SparkSession, root: String, version: Int,
      strict: Boolean = true): TableState =
    replay(s, root, version, strict = strict)._1

  /** [[replay]]'s live set and read footprint (checkpoint used, #JSON
    * entries replayed), so TableLogSpec can pin the footprint. */
  private[graft] def replayState(s: SparkSession, root: String, version: Int,
      useCheckpoint: Boolean): (Seq[(String, Option[String])], Option[Int], Int) = {
    val (st, base, n) = replay(s, root, version, useCheckpoint)
    (st.live, base, n)
  }

  /** Newest checkpoint at or below `version` (-1 = latest) plus a
    * replay of only the JSON entries after it. The schema is the
    * newest one those entries record; when none does, the walk goes on
    * down the entries at or below the checkpoint (every data commit
    * records one, so it stops at the first or second). With no
    * version at or below `version`, `strict` refuses and otherwise the
    * state is empty. */
  private def replay(s: SparkSession, root: String, version: Int,
      useCheckpoint: Boolean = true,
      strict: Boolean = true): (TableState, Option[Int], Int) = {
    val f = fs(s, root)
    val vs = versions(s, root)
    val upto = if (version < 0) vs else vs.filter(_ <= version)
    if (upto.isEmpty) {
      require(!strict, if (vs.isEmpty) s"TableLog at $root has no commits"
        else s"no committed version <= $version at $root")
      return (TableState(-1, Nil, Nil, Map.empty, None, Map.empty), None, 0)
    }
    val live = mutable.LinkedHashMap.empty[String, Option[String]]
    val txns = mutable.Map.empty[String, Long]
    var dvs: Seq[String] = Seq.empty
    val checks = mutable.LinkedHashMap.empty[String, String]
    var schemaEntry: Option[String] = None  // newest tail entry with one
    // a checkpoint that doesn't parse (torn write, pre-sentinel or
    // pre-constraint format) is treated as ABSENT — fall back to full
    // JSON replay rather than trust a prefix that would silently drop
    // live files or constraints
    val base = (if (useCheckpoint)
      checkpointVersions(s, root).filter(_ <= upto.last).lastOption
    else None).flatMap(cv => parseCheckpoint(cv, readText(f, ckptPath(root, cv))))
    base.foreach { ck =>
      ck.live.foreach { case (p, st) => live.put(p, st) }
      txns ++= ck.txns
      dvs = ck.dvs
      checks ++= ck.constraints
    }
    val (below, tail) = upto.partition(v => base.exists(_.version >= v))
    tail.foreach { v =>
      val json = readText(f, logPath(root, v))
      val st = parseStats(json)
      parseArr(json, "remove").foreach(live.remove)
      parseArr(json, "add").foreach(a => live.put(a, st))
      // "dvs" records the full state: the newest record wins
      parseDvs(json).foreach(dvs = _)
      parseTxn(json).foreach { case (a, tv) =>
        if (txns.get(a).forall(_ < tv)) txns(a) = tv
      }
      parseCheck(json).foreach { case (n, e) => checks(n) = e }
      parseUncheck(json).foreach(checks.remove)
      if (json.contains("\"schema\":")) schemaEntry = Some(json)
    }
    val schema = schemaEntry.flatMap(parseSchema).orElse(below.reverseIterator
      .map(v => parseSchema(readText(f, logPath(root, v))))
      .collectFirst { case Some(sc) => sc })
    (TableState(upto.last, live.toSeq, dvs, txns.toMap, schema,
      checks.toMap), base.map(_.version), tail.size)
  }

  /** File key shared by deletion vectors and `_metadata.file_path`:
    * the last three path components (`data/<uuid>/<part>.parquet`) —
    * identical for internal and [[clone]]-referenced external files,
    * collision-free by the per-commit uuid. */
  private def fileKey(c: Column): Column = substring_index(c, "/", -3)

  /** [[fileKey]] of one path string, on the driver. */
  private def fileKey(p: String): String =
    p.split("/", -1).takeRight(3).mkString("/")

  private def dvBroadcastMaxBytes(s: SparkSession): Long =
    s.conf.getOption("spark.graft.tablelog.dv.broadcastMaxBytes")
      .map(_.toLong).getOrElse(32L * 1024 * 1024)

  /** Schema of a deletion-vector sidecar, as [[deleteVector]] writes
    * it: file key and row index of each deleted row. */
  private val DvSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "file STRING, pos BIGINT")

  /** The rows the deletion-vector sidecars `dvs` (absolute paths)
    * delete, as sorted row positions per [[fileKey]]: read on the driver
    * with parquet-hadoop's reader, so no Spark job runs. */
  private def dvPositions(s: SparkSession,
      dvs: Seq[String]): Map[String, Array[Long]] = {
    import org.apache.parquet.hadoop.ParquetReader
    import org.apache.parquet.hadoop.example.GroupReadSupport
    val conf = s.sparkContext.hadoopConfiguration
    val acc = mutable.HashMap.empty[String, mutable.ArrayBuilder.ofLong]
    dvs.foreach { d =>
      // a directory path reads every visible part file under it
      val r = ParquetReader.builder(new GroupReadSupport, new Path(d))
        .withConf(conf).build()
      // a sidecar holds each file's rows together: the file key is
      // decoded once per run of rows, not once per row
      var file: org.apache.parquet.io.api.Binary = null
      var into: mutable.ArrayBuilder.ofLong = null
      try Iterator.continually(r.read()).takeWhile(_ != null).foreach { g =>
        val f = g.getBinary("file", 0)
        if (f != file) {
          file = f.copy()
          into = acc.getOrElseUpdate(fileKey(f.toStringUsingUTF8),
            new mutable.ArrayBuilder.ofLong)
        }
        into += g.getLong("pos", 0)
      } finally r.close()
    }
    acc.map { case (k, b) =>
      val ps = b.result()
      java.util.Arrays.sort(ps)
      k -> ps
    }.toMap
  }

  /** [[dvPositions]] of the vector list `dvs` as one broadcast
    * variable, kept for the few most recently read lists: sidecars
    * never change once published, so a version's vectors are decoded
    * once rather than on every read. An evicted broadcast is cleaned by
    * Spark once no plan holds it. */
  private def dvBroadcast(s: SparkSession, dvs: Seq[String])
      : org.apache.spark.broadcast.Broadcast[Map[String, Array[Long]]] = {
    val sc = s.sparkContext
    dvBroadcasts.synchronized {
      dvBroadcasts.computeIfAbsent((sc, dvs),
        _ => sc.broadcast(dvPositions(s, dvs)))
    }
  }

  private val dvBroadcasts = new java.util.LinkedHashMap[
      (org.apache.spark.SparkContext, Seq[String]),
      org.apache.spark.broadcast.Broadcast[Map[String, Array[Long]]]](
      8, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[
        (org.apache.spark.SparkContext, Seq[String]),
        org.apache.spark.broadcast.Broadcast[Map[String, Array[Long]]]]): Boolean =
      size > 4
  }

  /** Whether the active vectors `dvs` fit
    * `spark.graft.tablelog.dv.broadcastMaxBytes` by their total on-disk
    * size (file-system metadata, no job): then the reader drops their
    * rows ([[DvParquetFormat]]), else they are anti-joined. A missing
    * sidecar (vacuumed) refuses here, on either path, so a decode of it
    * kept by [[dvBroadcast]] never answers for it. */
  private def dvInReader(s: SparkSession, root: String,
      dvs: Seq[String]): Boolean = {
    val f = fs(s, root)
    dvs.nonEmpty && dvs.map(d =>
      f.getContentSummary(new Path(abs(root, d))).getLength
    ).sum <= dvBroadcastMaxBytes(s)
  }

  /** Parquet that drops the `deleted` rows (positions per [[fileKey]],
    * [[dvPositions]]) inside the reader, as Delta's and Iceberg's
    * readers do: the positions ride one broadcast variable and each
    * file's rows are tested by their row index, so no filter, join or
    * exchange enters the plan and no extra job or adaptive re-plan runs.
    * Rows come out one at a time (from the vectorized reader where it
    * applies), and the row index is read even when the query does not
    * ask for it. The relation's options name the vectors ([[readFiles]]):
    * parquet formats all compare equal, so the options are what keeps
    * scans over other vector states from ever sharing a plan or cache. */
  private final class DvParquetFormat(
      deleted: org.apache.spark.broadcast.Broadcast[Map[String, Array[Long]]])
      extends org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
    import org.apache.spark.sql.execution.datasources.PartitionedFile
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    import org.apache.spark.sql.types.{StructField, StructType}

    override def supportBatch(s: SparkSession, schema: StructType): Boolean = false

    override def buildReaderWithPartitionValues(s: SparkSession,
        dataSchema: StructType, partitionSchema: StructType,
        requiredSchema: StructType,
        filters: Seq[org.apache.spark.sql.sources.Filter],
        options: Map[String, String],
        conf: org.apache.hadoop.conf.Configuration)
        : PartitionedFile => Iterator[InternalRow] = {
      val rowIndex = ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME
      val asked = Some(requiredSchema.fieldNames.indexOf(rowIndex)).filter(_ >= 0)
      // nullable, as a column no file holds must be, or the reader
      // refuses it as missing instead of filling it
      val read = super.buildReaderWithPartitionValues(s, dataSchema,
        partitionSchema, if (asked.isDefined) requiredSchema
          else requiredSchema.add(StructField(rowIndex, LongType, nullable = true)),
        filters, options, conf)
      val at = asked.getOrElse(requiredSchema.length)
      // the output row is the read schema then the partition values;
      // an added row index is projected out again
      val kept = (requiredSchema.fields ++ partitionSchema.fields).zipWithIndex
        .map { case (f, i) => (f, if (asked.isEmpty && i >= at) i + 1 else i) }
      val deleted = this.deleted
      file => {
        val ps = deleted.value.getOrElse(fileKey(file.filePath.toString), null)
        val rows = read(file)
        val alive = if (ps == null) rows
          else rows.filter(r => java.util.Arrays.binarySearch(ps, r.getLong(at)) < 0)
        if (asked.isDefined) alive
        else {
          val drop = UnsafeProjection.create(kept.toSeq.map { case (f, i) =>
            BoundReference(i, f.dataType, f.nullable) })
          alive.map(drop)
        }
      }
    }
  }

  /** `df` (a parquet scan of this table's files) keyed by
    * (_g_file, _g_pos) — file key and `_metadata.row_index` — minus the
    * rows the deletion vectors `dvs` name, read as a frame under their
    * fixed schema (no inference job) and anti-joined with a shuffle:
    * the path for vectors over the broadcast budget ([[dvInReader]]),
    * where a [[compact]] is overdue. */
  private def keyedAlive(s: SparkSession, root: String, df: DataFrame,
      dvs: Seq[String]): DataFrame = {
    val keyed = df.withColumn("_g_file", fileKey(col("_metadata.file_path")))
      .withColumn("_g_pos", col("_metadata.row_index"))
    if (dvs.isEmpty) keyed
    else keyed.join(readFiles(s, dvs.map(abs(root, _)), Some(DvSchema))
        .select(fileKey(col("file")).as("_g_dv_file"), col("pos").as("_g_dv_pos")),
      col("_g_file") === col("_g_dv_file") &&
        col("_g_pos") === col("_g_dv_pos"), "left_anti")
  }

  /** [[keyedAlive]] without the key columns; no-op without active DVs. */
  private def applyDv(s: SparkSession, root: String, df: DataFrame,
      dvs: Seq[String]): DataFrame =
    if (dvs.isEmpty) df
    else keyedAlive(s, root, df, dvs).select(df.columns.map(col).toSeq: _*)

  /** The declared table schema as of `version` (-1 = latest): the
    * newest commit at or below `version` that recorded one. None for
    * logs written before schema recording existed, and for a version
    * with no commit at or below it. */
  def tableSchema(s: SparkSession, root: String, version: Int = -1)
      : Option[org.apache.spark.sql.types.StructType] =
    state(s, root, version, strict = false).schema

  // ---- CHECK constraints -------------------------------------------------
  // Delta's `ALTER TABLE ADD CONSTRAINT` parity: named boolean SQL
  // expressions recorded in the log as metadata-only commits
  // ("check":"name:base64(expr)" / "uncheck":"name"), enforced on
  // every data write. SQL CHECK semantics: a row violates only when
  // the expression is definitively FALSE (NULL passes); NOT NULL is
  // the special case `c IS NOT NULL`. Adding a constraint validates
  // the CURRENT snapshot first — a table can never be in a state its
  // declared constraints reject. Enforcement is one extra aggregate
  // over just-written files per commit, and only when constraints
  // exist: an unconstrained table pays nothing.

  /** Declared constraints as of `version` (-1 = latest), by name. */
  def constraints(s: SparkSession, root: String,
      version: Int = -1): Map[String, String] =
    state(s, root, version, strict = false).constraints

  /** Rows that DEFINITIVELY violate `e` (false, not null — SQL CHECK). */
  private def violating(df: DataFrame, e: String): DataFrame =
    df.filter(!coalesce(expr(e), lit(true)))

  /** ADD CONSTRAINT: validate the current snapshot against `exprSql`
    * (a constraint the existing data violates is rejected — Delta
    * semantics), then publish a metadata-only commit declaring it.
    * Every subsequent data write is checked; [[dropConstraint]]
    * lifts it. Returns the committed version. */
  def addConstraint(s: SparkSession, root: String, name: String,
      exprSql: String): Int = {
    val bad = violating(snapshot(s, root), exprSql).limit(1).count()
    require(bad == 0,
      s"addConstraint: existing rows violate CHECK $name ($exprSql)")
    publish(s, root, Seq.empty, Seq.empty, dataChange = false,
      check = Some(name -> exprSql))
  }

  /** DROP CONSTRAINT as a metadata-only commit. */
  def dropConstraint(s: SparkSession, root: String, name: String): Int = {
    require(constraints(s, root).contains(name),
      s"dropConstraint: no constraint named $name")
    publish(s, root, Seq.empty, Seq.empty, dataChange = false,
      uncheck = Some(name))
  }

  /** Enforce all declared constraints on freshly-written (not yet
    * published) files: ONE aggregate job counting violations per
    * constraint; on any violation the unpublished files are deleted
    * (they were never visible — data-before-log) and the write
    * throws with the per-constraint counts. */
  private def enforceConstraints(s: SparkSession, root: String,
      sub: String): Unit = {
    val cs = constraints(s, root)
    if (cs.isEmpty) return
    val named = cs.toSeq
    val counts = s.read.parquet(s"$root/$sub").select(named.map { case (n, e) =>
      count(when(!coalesce(expr(e), lit(true)), 1)).as(n)
    }: _*).head()
    val bad = named.indices.filter(i => counts.getLong(i) > 0)
      .map(i => s"${named(i)._1} (${named(i)._2}): ${counts.getLong(i)} rows")
    if (bad.nonEmpty) {
      fs(s, root).delete(new Path(s"$root/$sub"), true)
      throw new IllegalStateException(
        s"TableLog: CHECK constraint violation — ${bad.mkString("; ")}")
    }
  }

  /** Violations that make writing `next` into a table currently
    * declared as `cur` unsafe: changing an existing column's type
    * outside the widening order (readers would see conflicting
    * parquet types) or dropping a column `cur` declares non-nullable
    * (old readers assume it present). Adding nullable columns,
    * omitting nullable columns, NARROWER-typed writes (upcast, the
    * declared type stays wide) and — through [[widenColumn]] only —
    * widening promotions are legal evolution. */
  /** The type-widening partial order (Delta 3.x / Iceberg type
    * promotion): `from` may be declared as `to` without rewriting a
    * single data file, because (a) every `from` value is exactly
    * representable in `to` and (b) Spark 4's parquet readers perform
    * the widening promotion at scan time (SPARK-40876), so old files
    * keep their narrow physical encoding and new files write wide.
    * Deliberately EXCLUDED: anything lossy (long→int, double→float,
    * decimal scale changes) and string↔numeric coercions. */
  private[sources] def widensTo(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (a, b) if a == b => false
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (ByteType | ShortType | IntegerType, DoubleType) => true
      case (a: DecimalType, b: DecimalType) =>
        b.scale == a.scale && b.precision > a.precision
      case _ => false
    }
  }

  private def schemaViolations(cur: org.apache.spark.sql.types.StructType,
      next: org.apache.spark.sql.types.StructType,
      allowWiden: Boolean): Seq[String] = {
    val nextByName = next.fields.map(f => f.name -> f).toMap
    val typeChanged = cur.fields.toSeq.flatMap { f =>
      nextByName.get(f.name)
        .filter(_.dataType != f.dataType)
        // a NARROWER write is a legal upcast (the declared type stays
        // wide — publish records cur's type, not the write's); a WIDER
        // type is legal only through [[widenColumn]] (allowWiden)
        .filterNot(n => widensTo(n.dataType, f.dataType))
        .filterNot(n => allowWiden && widensTo(f.dataType, n.dataType))
        .map(n => s"type change on '${f.name}': ${f.dataType.simpleString} -> ${n.dataType.simpleString}")
    }
    val droppedRequired = cur.fields.toSeq
      .filter(f => !f.nullable && !nextByName.contains(f.name))
      .map(f => s"dropped non-nullable column '${f.name}'")
    // a write re-using a column's PREVIOUS name would silently fork
    // the rename (and re-declare the old schema) — reject with a
    // pointer to the new name
    val prevOf = cur.fields.toSeq.flatMap(f =>
      physNames(f).drop(1).map(_ -> f.name)).toMap
    val renamedAway = next.fields.toSeq
      .filter(f => prevOf.contains(f.name) && !cur.fieldNames.contains(f.name))
      .map(f => s"column '${f.name}' was renamed to '${prevOf(f.name)}'")
    typeChanged ++ droppedRequired ++ renamedAway
  }

  /** Publish one commit via exists-guarded rename CAS; returns the
    * version that won. A commit that REMOVES files re-validates, on
    * every attempt, that its whole remove set is still live — so a
    * rewrite/compact racing a deleteRange aborts (with
    * `ConcurrentModificationException`) instead of committing a swap
    * that would resurrect deleted rows. Add-only commits never
    * conflict and retry freely.
    *
    * `expectFiles` / `expectDvs` extend the same CAS posture to
    * deletion vectors: a commit whose row math was computed against a
    * specific live-file set or DV state (a [[deleteVector]], or a
    * layout rewrite that materializes DVs) re-validates, per attempt,
    * that the state is STILL exactly that — otherwise a delete landing
    * between a rewrite's read and its publish (or vice versa) would be
    * silently lost.
    *
    * Each attempt resolves the head ONCE ([[state]]; the publish's
    * [[LogCache]] keeps the log in memory) and every check — schema,
    * remove set, expected files and vectors, txn watermark — as well
    * as the recorded schema reads that one state, so they all see the
    * same version: the one the attempt's slot follows. */
  private def publish(s: SparkSession, root: String, add: Seq[String],
      remove: Seq[String], statsFile: Option[String] = None,
      dataChange: Boolean = true, txn: Option[(String, Long)] = None,
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      schemaNow: Option[org.apache.spark.sql.types.StructType =>
        org.apache.spark.sql.types.StructType] = None,
      enforceSchema: Boolean = true, allowWiden: Boolean = false,
      cdc: Option[String] = None,
      check: Option[(String, String)] = None,
      uncheck: Option[String] = None,
      dvs: Option[Seq[String]] = None,
      expectFiles: Option[Set[String]] = None,
      expectDvs: Option[Seq[String]] = None): Int = {
    val f = fs(s, root)
    f.mkdirs(new Path(s"$root/_log"))
    // data commits record the WRITE's schema; carry the declared
    // fields' metadata (the rename name-mapping) onto it by name —
    // otherwise a post-rename append would re-declare a schema
    // without the mapping and orphan every pre-rename file's column
    // recomputed on EVERY CAS attempt (not hoisted): a concurrent
    // widenColumn or rename landing between attempts must be folded
    // into THIS commit's recorded schema, or a racing narrow append
    // would regress the widening / drop the name mapping it never saw
    def schemaRec(cur: Option[org.apache.spark.sql.types.StructType])
        : Option[org.apache.spark.sql.types.StructType] =
      schema.map { next =>
        cur match {
          case None => next
          case Some(c) =>
            val curByName = c.fields.map(fl => fl.name -> fl).toMap
            org.apache.spark.sql.types.StructType(next.fields.map { fl =>
              curByName.get(fl.name) match {
                case Some(cf) =>
                  // sticky-wide: a write whose column is NARROWER than
                  // the declared type is an upcast — the recorded schema
                  // keeps the declared (wide) type, or a post-widen int
                  // append would silently regress the widening
                  val dt = if (widensTo(fl.dataType, cf.dataType)) cf.dataType
                    else fl.dataType
                  fl.copy(dataType = dt, metadata = cf.metadata)
                case None => fl
              }
            })
        }
      }
    // retry-storm read footprint: one LogCache per publish call makes
    // every re-validation on attempts 2..n re-read only entries that
    // LANDED since attempt 1 (probe + per-entry reads), never re-list
    // the log directory — O(new commits) per retry, Delta's posture
    val cache = new LogCache(f, root)
    val prevCache = activeCache.get
    activeCache.set(cache)
    var attempts = 0
    try {
    var attempt = -1
    while (true) {
      attempts += 1
      val head = state(s, root, -1, strict = false)
      attempt = math.max(attempt + 1, head.version + 1)
      // evolution commits (schemaNow) re-DERIVE their target schema
      // from the schema as of THIS attempt: a racing addColumn landing
      // between attempts must appear in this commit's record (a stale
      // pre-derived StructType would silently erase it), and a racing
      // dropColumn must not be resurrected. The derivation's result is
      // authoritative — no fold — because it was computed FROM the
      // attempt's declared schema.
      val schemaAttempt = schemaNow.map(fn => fn(head.schema.get)).orElse(schema)
      // schema compatibility re-checked on EVERY attempt (CAS time):
      // a concurrent commit may have evolved the declared schema
      // between our check and our rename
      if (enforceSchema)
        for (next <- schemaAttempt; cur <- head.schema) {
          val bad = schemaViolations(cur, next, allowWiden)
          if (bad.nonEmpty) throw new IllegalStateException(
            s"TableLog: incompatible schema change rejected: ${bad.mkString("; ")}")
        }
      lazy val live = head.files.toSet
      val gone = remove.filterNot(live)
      if (gone.nonEmpty) throw new java.util.ConcurrentModificationException(
        "TableLog: commit would remove files a concurrent commit " +
          s"already removed (rebase and retry): ${gone.take(3).mkString(", ")}")
      if (expectFiles.exists(_ != live))
        throw new java.util.ConcurrentModificationException(
          "TableLog: live file set changed under this commit " +
            "(rebase and retry)")
      if (expectDvs.exists(_ != head.dvs))
        throw new java.util.ConcurrentModificationException(
          "TableLog: deletion-vector state changed under this commit " +
            "(rebase and retry)")
      // transactional idempotency re-checked on EVERY attempt: if a
      // concurrent writer committed the same (app, >=version) between
      // our check and our CAS, bow out instead of double-appending
      txn.foreach { case (app, v) =>
        if (head.txns.get(app).exists(_ >= v))
          throw new java.util.ConcurrentModificationException(
            s"TableLog: txn $app:$v already committed")
      }
      val tmp = new Path(s"$root/_log/.tmp-${UUID.randomUUID()}")
      val out = f.create(tmp, false)
      // data commits fold the write's schema against the declared one
      // (sticky-wide + metadata carry, schemaRec); evolution commits
      // record the per-attempt derivation verbatim
      val schemaOut =
        if (schemaNow.isDefined) schemaAttempt else schemaRec(head.schema)
      try out.write(
        render(attempt, add, remove, statsFile, dataChange, txn, schemaOut, cdc,
          check, uncheck, dvs).getBytes("UTF-8"))
      finally out.close()
      val target = logPath(root, attempt)
      if (CasFs.publish(f, tmp, target)) {
        val interval = checkpointInterval(s)
        if (attempt > 0 && attempt % interval == 0)
          writeCheckpoint(s, root, attempt)
        return attempt
      }
      f.delete(tmp, false)            // lost the race: next version
    }
    -1 // unreachable
    } finally {
      if (prevCache == null) activeCache.remove()
      else activeCache.set(prevCache)
      lastPublishFootprint = (root, cache.listings, attempts)
    }
  }

  /** Run two independent write actions on concurrent driver threads
    * (guide §2.6 "overlap independent jobs"): a mutation commit's CDC
    * sidecar write and its data rewrite share no outputs, so the
    * commit's wall is max(two jobs) instead of their sum — the next
    * job's tasks back-fill executors the first job's tail leaves
    * idle. One call of [[graft.ops.inParallel]]: `a` on the caller
    * thread (`activeCache` is thread-local), `b` beside it, and both
    * legs are awaited even when one throws.
    * Exceptions from either side propagate with their original cause;
    * the orphaned-dir contract is unchanged — a failure before publish
    * leaves at most the same unreferenced subdirs the sequential order
    * could. */
  private def par2[A, B](a: => A, b: => B): (A, B) = {
    val Seq(Left(ra), Right(rb)) = graft.ops.inParallel(2, "graft-inParallel")(
      Seq[() => Either[A, B]](() => Left(a), () => Right(b)))
    (ra, rb)
  }

  /** Write `df` into a fresh per-commit subdir; returns (subdir,
    * relative file list). */
  private def writeData(s: SparkSession, root: String,
      df: DataFrame): (String, Seq[String]) = {
    val sub = s"data/${UUID.randomUUID()}"
    df.write.parquet(s"$root/$sub")
    // every data write (append / overwrite / merge / delete-survivor
    // rewrite) passes the declared CHECK constraints before it can be
    // published; layout-only rewrites ([[rewrite]]/[[compact]]) carry
    // the same rows by contract and skip the scan. ANY enforcement
    // failure (violation or unresolved expression) deletes the dir —
    // an unpublished write is unreachable by vacuum forever
    try enforceConstraints(s, root, sub)
    catch { case e: Throwable =>
      try { fs(s, root).delete(new Path(s"$root/$sub"), true); () }
      catch { case _: Throwable => () }
      throw e
    }
    (sub, subFiles(s, root, sub))
  }

  /** The parquet files of the fresh subdir `sub`, relative to `root`,
    * in name order. */
  private def subFiles(s: SparkSession, root: String,
      sub: String): Seq[String] =
    fs(s, root).listStatus(new Path(s"$root/$sub"))
      .map(_.getPath.getName).filter(_.endsWith(".parquet"))
      .sorted.map(n => s"$sub/$n").toSeq

  /** Per-file min/max lines for `statsCols` read from the parquet
    * FOOTERS the write already produced — integer column-chunk
    * statistics are exact (no binary truncation), so re-scanning the
    * data to recompute them is a full extra pass for information the
    * format persists for free. O(#files) driver footer reads, like
    * every other metadata walk in this log. Returns None (→ caller
    * falls back to the distributed scan) when any chunk lacks usable
    * stats or a column isn't a plain signed int32/int64 — the
    * fallback keeps the scan path's exact cast-to-long semantics for
    * exotic layouts rather than risking a wrong range that would
    * mis-prune reads. */
  private def footerStatLines(s: SparkSession, root: String, sub: String,
      statsCols: Seq[String]): Option[Seq[String]] = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val conf = s.sparkContext.hadoopConfiguration
    val f = fs(s, root)
    val files = f.listStatus(new Path(s"$root/$sub"))
      .map(_.getPath).filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    // per-file footer reads are independent metadata I/O: up to 8 at
    // once keep a many-file commit from serializing on the driver
    // (guide §5 — keep the driver thin; VERDICT r14 item 7). Output
    // keeps the deterministic (file-name-sorted, statsCols-ordered)
    // line order the sidecar has always had, and a failed read
    // interrupts and awaits the others before the fallback below.
    def fileLines(p: Path): Seq[String] = {
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
      try {
        val blocks = reader.getFooter.getBlocks.asScala
        statsCols.flatMap { c =>
          var mn = Long.MaxValue
          var mx = Long.MinValue
          var seen = false
          for (b <- blocks) {
            val cc = b.getColumns.asScala
              .find(_.getPath.toDotString == c)
              .getOrElse(throw new UnsupportedOperationException(
                s"column $c not found in footer"))
            val st = cc.getStatistics
            if (st == null || st.isEmpty)
              throw new UnsupportedOperationException(s"no stats for $c")
            if (st.hasNonNullValue) {
              val ann = cc.getPrimitiveType.getLogicalTypeAnnotation
              val plainInt = ann == null || (ann match {
                case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation =>
                  i.isSigned
                case _ => false
              })
              val (lo, hi) =
                cc.getPrimitiveType.getPrimitiveTypeName match {
                  case PrimitiveTypeName.INT64 if plainInt =>
                    (st.genericGetMin.asInstanceOf[java.lang.Long]
                      .longValue,
                      st.genericGetMax.asInstanceOf[java.lang.Long]
                        .longValue)
                  case PrimitiveTypeName.INT32 if plainInt =>
                    (st.genericGetMin.asInstanceOf[java.lang.Integer]
                      .longValue,
                      st.genericGetMax.asInstanceOf[java.lang.Integer]
                        .longValue)
                  case other => throw new UnsupportedOperationException(
                    s"unsupported stats type $other for $c")
                }
              if (lo < mn) mn = lo
              if (hi > mx) mx = hi
              seen = true
            }
          }
          // all-null column in this file: emit NO line (the file
          // stays in the no-stats always-read class), same as the
          // scan path's null-min/max handling
          if (seen) Some(s"$sub/${p.getName}\t$c\t$mn\t$mx") else None
        }
      } finally reader.close()
    }
    try Some(graft.ops.inParallel(
        if (files.length <= 2) 1 else math.min(8, files.length),
        "graft-footerStats")(files.toSeq.map(p => () => fileLines(p))).flatten)
    catch { case scala.util.control.NonFatal(e) =>
      // NonFatal only: an OOM/interrupt must propagate, and a
      // persistently-degraded footer path (every commit paying the
      // full-scan fallback) must be visible, not silent (ADVICE r14)
      org.slf4j.LoggerFactory.getLogger("graft.sources.TableLog").info(
        s"footer stats unavailable for $root/$sub, falling back to " +
          s"distributed scan: ${e.getClass.getSimpleName}: ${e.getMessage}")
      None
    }
  }

  /** Per-file min/max for `statsCols` (long-valued columns), written
    * as a TSV sidecar inside the commit's subdir. Served from the
    * parquet footers when possible ([[footerStatLines]]); otherwise
    * one distributed pass over the just-written files. Returns the
    * sidecar's relative path. */
  private def writeStats(s: SparkSession, root: String, sub: String,
      statsCols: Seq[String]): Option[String] = {
    if (statsCols.isEmpty) return None
    val lines: Seq[String] =
      footerStatLines(s, root, sub, statsCols).getOrElse {
        val aggs = statsCols.flatMap(c =>
          Seq(min(col(c).cast(LongType)).as(s"mn_$c"),
            max(col(c).cast(LongType)).as(s"mx_$c")))
        val rows = s.read.parquet(s"$root/$sub")
          .groupBy(input_file_name().as("f"))
          .agg(aggs.head, aggs.tail: _*)
          .collect()                  // O(#files) — driver metadata
        rows.toSeq.flatMap { r =>
          val file = sub + "/" + r.getString(0).split('/').last
          // an all-NULL column yields NULL min/max — emit NO line (the
          // file stays in the no-stats always-read class) rather than
          // unboxing null to a bogus (0, 0) range that would mis-prune
          statsCols.filter(c => !r.isNullAt(r.fieldIndex(s"mn_$c")) &&
              !r.isNullAt(r.fieldIndex(s"mx_$c")))
            .map(c => s"$file\t$c\t${r.getAs[Long](s"mn_$c")}\t${r.getAs[Long](s"mx_$c")}")
        }
      }
    val rel = s"$sub/_stats.tsv"
    writeTsv(s, root, rel, lines)
    Some(rel)
  }

  /** Write `lines` as the sidecar `rel` (relative to `root`), the
    * format [[sidecarRows]] reads. */
  private def writeTsv(s: SparkSession, root: String, rel: String,
      lines: Seq[String]): Unit = {
    val out = fs(s, root).create(new Path(s"$root/$rel"), false)
    try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Append `df` as a new commit; returns the committed version.
    * `statsCols` (long-valued columns) adds a per-file min/max
    * sidecar enabling [[readRange]]/[[deleteRange]] pruning;
    * `bloomCols` adds per-file bloom filters enabling [[readPoint]]
    * file skipping on high-cardinality keys min/max ranges can't
    * prune. */
  def append(s: SparkSession, root: String, df: DataFrame,
      statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil): Int = {
    val (sub, files) = writeData(s, root, df)
    writeBloom(s, root, sub, bloomCols)
    publishOrClean(s, root, Seq(sub)) {
      publish(s, root, files, Seq.empty, writeStats(s, root, sub, statsCols),
        schema = Some(df.schema))
    }
  }

  /** Highest committed transaction version for `app` (Delta's
    * `setTransaction`/`txnVersion` analogue) — the idempotency
    * watermark for [[appendIdempotent]]. Checkpoint-accelerated via
    * [[state]]: O(checkpoint interval) JSON reads, not O(#commits). */
  def lastTxnVersion(s: SparkSession, root: String, app: String): Option[Long] =
    state(s, root, -1, strict = false).txns.get(app)

  /** Idempotent transactional append — the streaming/exactly-once
    * ingestion primitive (Delta's idempotent writes: each commit
    * records an (application id, monotonically increasing version);
    * re-applying a version at or below the recorded watermark is a
    * NO-OP instead of a duplicate append). This is what makes a
    * Structured Streaming `foreachBatch(epochId)` sink into the log
    * effectively-exactly-once: epoch replays after a crash (or a full
    * checkpoint loss) skip instead of double-writing. Returns the
    * committed log version, or None when the transaction was already
    * applied (including a concurrent writer winning the same version
    * mid-commit). */
  def appendIdempotent(s: SparkSession, root: String, df: DataFrame,
      app: String, txnVersion: Long, statsCols: Seq[String] = Nil): Option[Int] = {
    if (lastTxnVersion(s, root, app).exists(_ >= txnVersion)) return None
    val (sub, files) = writeData(s, root, df)
    try Some(publishOrClean(s, root, Seq(sub)) {
      publish(s, root, files, Seq.empty,
        writeStats(s, root, sub, statsCols), txn = Some(app -> txnVersion),
        schema = Some(df.schema))
    })
    catch {
      case _: java.util.ConcurrentModificationException => None // raced: applied
    }
  }

  /** Replace the whole table content with `df` in one commit. An
    * overwrite that also changes the schema incompatibly (type
    * change / dropped non-nullable) still rejects unless
    * `overwriteSchema = true` — replacing every row makes the change
    * safe for NEW snapshots, but it must be asked for explicitly
    * (Delta's `overwriteSchema` option), because time travel across
    * the boundary changes meaning. */
  def overwrite(s: SparkSession, root: String, df: DataFrame,
      statsCols: Seq[String] = Nil, overwriteSchema: Boolean = false): Int = {
    val old = state(s, root, -1, strict = false).files
    val (sub, files) = writeData(s, root, df)
    // replacing every row discharges any pending deletion vectors
    publishOrClean(s, root, Seq(sub)) {
      publish(s, root, files, old, writeStats(s, root, sub, statsCols),
        schema = Some(df.schema), enforceSchema = !overwriteSchema,
        dvs = Some(Seq.empty))
    }
  }

  /** StructField metadata key listing a column's PREVIOUS physical
    * names, newest first — the name-mapping that makes RENAME a
    * metadata operation (Delta column-mapping parity). */
  private val PrevNamesKey = "graft.prevNames"

  /** All physical names a declared column may appear under in data
    * files, current name first. A file is written under exactly ONE
    * schema generation, so at most one of these is non-absent per
    * file — which is what makes the read-side coalesce exact. */
  private def physNames(f: org.apache.spark.sql.types.StructField): Seq[String] =
    f.name +: (if (f.metadata.contains(PrevNamesKey))
      f.metadata.getStringArray(PrevNamesKey).toSeq else Seq.empty)

  /** Column names an expression references (unresolved — schema
    * evolution guards need the NAMES, not a resolution). */
  private def exprRefs(s: SparkSession, sql: String): Seq[String] =
    s.sessionState.sqlParser.parseExpression(sql).collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        a.name
    }

  /** Renaming or dropping a column a CHECK constraint references
    * would break every subsequent write with an unresolved-column
    * error (and orphan its data dir) — reject up front, like Delta. */
  private def requireUnconstrained(s: SparkSession, root: String,
      column: String, op: String): Unit = {
    val refs = constraints(s, root).collect {
      case (n, e) if exprRefs(s, e).exists(_.equalsIgnoreCase(column)) => n
    }
    require(refs.isEmpty,
      s"TableLog: cannot $op column '$column' — referenced by CHECK " +
        s"constraint(s) ${refs.mkString(", ")}; drop them first")
  }

  /** RENAME COLUMN without rewriting a byte: ONE metadata commit
    * re-declares the schema with the field under its new name and the
    * old name recorded in the field's name-mapping metadata. Reads
    * coalesce the declared name over every previous physical name
    * ([[alignDeclared]]); writes must use the NEW name — re-using a
    * previous name is rejected at CAS time with a pointer to the
    * rename ([[schemaViolations]]). Stats/bloom sidecars keyed by the
    * old name simply stop pruning (advisory by construction — missing
    * stats mean always-read, never a wrong answer) until the next
    * stats-bearing rewrite re-keys them. Time travel to pre-rename
    * versions presents the old declared schema unchanged. */
  def renameColumn(s: SparkSession, root: String, oldName: String,
      newName: String): Int = {
    import org.apache.spark.sql.types.{MetadataBuilder, StructField, StructType}
    val cur = tableSchema(s, root).getOrElse(throw new IllegalStateException(
      s"TableLog: $root has no declared schema to evolve (append data first)"))
    require(cur.fieldNames.contains(oldName),
      s"TableLog: no column '$oldName' to rename")
    require(!cur.fieldNames.contains(newName),
      s"TableLog: column '$newName' already exists")
    requireUnconstrained(s, root, oldName, "rename")
    // derived from the schema AS OF EACH publish attempt — a racing
    // evolution commit (addColumn, widen) is folded in, never erased
    def next(base: StructType): StructType = {
      require(base.fieldNames.contains(oldName),
        s"TableLog: column '$oldName' vanished under this rename")
      StructType(base.fields.map { f =>
        if (f.name != oldName) f
        else StructField(newName, f.dataType, f.nullable,
          new MetadataBuilder().withMetadata(f.metadata)
            .putStringArray(PrevNamesKey, physNames(f).toArray).build())
      })
    }
    publish(s, root, Seq.empty, Seq.empty, dataChange = false,
      schemaNow = Some(next), enforceSchema = false)
  }

  /** DROP COLUMN as a metadata-only commit: the declared schema loses
    * the field, [[alignDeclared]] hides the straggler values in
    * existing files (no rewrite), and the non-nullable case is
    * rejected by the standard schema gate — dropping a required
    * column would make old rows unrepresentable. */
  def dropColumn(s: SparkSession, root: String, name: String): Int = {
    val cur = tableSchema(s, root).getOrElse(throw new IllegalStateException(
      s"TableLog: $root has no declared schema to evolve (append data first)"))
    require(cur.fieldNames.contains(name), s"TableLog: no column '$name'")
    requireUnconstrained(s, root, name, "drop")
    // per-attempt derivation: a racing addColumn survives this drop
    publish(s, root, Seq.empty, Seq.empty, dataChange = false,
      schemaNow = Some(base => org.apache.spark.sql.types.StructType(
        base.fields.filterNot(_.name == name))))
  }

  /** ADD COLUMN as a metadata-only commit: declares a new NULLABLE
    * column in the table schema without touching any data file.
    * Subsequent snapshots present the column (null for every row
    * written before it existed); subsequent appends may populate it.
    * Rejects if the column already exists or the log has no declared
    * schema yet (pre-schema logs must append once first). */
  def addColumn(s: SparkSession, root: String, name: String,
      dataType: org.apache.spark.sql.types.DataType): Int = {
    val cur = tableSchema(s, root).getOrElse(throw new IllegalStateException(
      s"TableLog: $root has no declared schema to evolve (append data first)"))
    require(!cur.fieldNames.contains(name),
      s"TableLog: column '$name' already exists")
    // per-attempt derivation: two racing addColumns both survive
    // (the loser's retry folds the winner's column into its record)
    def next(base: org.apache.spark.sql.types.StructType) = {
      require(!base.fieldNames.contains(name),
        s"TableLog: column '$name' already exists")
      org.apache.spark.sql.types.StructType(
        base.fields :+ org.apache.spark.sql.types.StructField(
          name, dataType, nullable = true))
    }
    publish(s, root, Seq.empty, Seq.empty, dataChange = false,
      schemaNow = Some(next))
  }

  /** Widen a column's declared type WITHOUT rewriting any data file
    * (Delta 3.x type widening / Iceberg type promotion). Only the
    * [[widensTo]] promotions are accepted — every existing value is
    * exactly representable, old files keep their narrow physical
    * encoding and are widened at scan time, new appends write the
    * wide type (and post-widen NARROW appends upcast, the declared
    * type staying wide). Schema-only commit: dataChange=false, so
    * streams and CDF see no phantom rows. */
  def widenColumn(s: SparkSession, root: String, name: String,
      dataType: org.apache.spark.sql.types.DataType): Int = {
    val cur = tableSchema(s, root).getOrElse(throw new IllegalStateException(
      s"TableLog: $root has no declared schema to evolve (append data first)"))
    val f = cur.fields.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"TableLog: no column '$name' to widen"))
    require(widensTo(f.dataType, dataType),
      s"TableLog: '${f.dataType.simpleString}' does not widen to " +
        s"'${dataType.simpleString}' (lossy or unrelated change)")
    // per-attempt derivation: a racing addColumn survives; a racing
    // IDENTICAL widen turns this commit into a harmless re-declaration
    def next(base: org.apache.spark.sql.types.StructType) = {
      val bf = base.fields.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"TableLog: column '$name' vanished under this widen"))
      require(bf.dataType == dataType || widensTo(bf.dataType, dataType),
        s"TableLog: '${bf.dataType.simpleString}' does not widen to " +
          s"'${dataType.simpleString}' (lossy or unrelated change)")
      org.apache.spark.sql.types.StructType(base.fields.map(fl =>
        if (fl.name == name) fl.copy(dataType = dataType) else fl))
    }
    publish(s, root, Seq.empty, Seq.empty, dataChange = false,
      schemaNow = Some(next), allowWiden = true)
  }

  /** The table as of `version` (-1 = latest). File list is resolved
    * NOW — the returned frame is a stable snapshot.
    *
    * The concrete version is resolved first (a log listing and one
    * entry read); the frame built for it is memoized, so repeated
    * reads of one version skip the log replay, the file listing and
    * the analysis. The memo key holds everything the frame depends
    * on besides immutable committed entries: the session (identity),
    * the root, the resolved version, that version's entry text and
    * modification time (a table re-created at the same root writes new
    * entries: data commits name fresh uuids, and a metadata-only commit
    * can repeat an old text but not its time), the checkpoint the replay
    * starts from (deleting it forces a fresh JSON replay), and the DV
    * broadcast threshold. A memoized frame keeps the file listing
    * taken when it was built: after a [[vacuum]] that reclaims its
    * files, reading it fails at scan (FileNotFound), as a fresh
    * snapshot below the retention floor does. Deletion vectors it
    * applies within the budget are already in memory, so one whose
    * vector sidecars alone were reclaimed still answers, with the
    * same rows. */
  def snapshot(s: SparkSession, root: String, version: Int = -1): DataFrame = {
    val vs = versions(s, root)
    val upto = if (version < 0) vs else vs.filter(_ <= version)
    if (upto.isEmpty) return buildSnapshot(s, root, version) // replay's error
    val v = upto.last
    val f = fs(s, root)
    val key = SnapshotKey(s, root, v, readText(f, logPath(root, v)),
      f.getFileStatus(logPath(root, v)).getModificationTime,
      checkpointVersions(s, root).filter(_ <= v).lastOption,
      dvBroadcastMaxBytes(s))
    Option(snapshots.synchronized(snapshots.get(key))).getOrElse {
      val df = buildSnapshot(s, root, v)
      snapshots.synchronized(snapshots.put(key, df))
      df
    }
  }

  /** Bound of the snapshot memo (LRU): more versions than a
    * long-running reader pins at once; each entry holds one analyzed
    * plan and its file listing. */
  private val SnapshotMemoMaxEntries = 64

  private case class SnapshotKey(session: SparkSession, root: String,
      version: Int, entry: String, entryMtime: Long, replayBase: Option[Int],
      dvBroadcastMaxBytes: Long)

  private val snapshots =
    new java.util.LinkedHashMap[SnapshotKey, DataFrame](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[SnapshotKey, DataFrame]): Boolean =
        size > SnapshotMemoMaxEntries
    }

  /** Drop a session's memoized snapshots (`Tables.invalidate`). */
  private[sources] def invalidateSnapshots(s: SparkSession): Unit =
    snapshots.synchronized(snapshots.keySet.removeIf(_.session eq s))

  private def buildSnapshot(s: SparkSession, root: String,
      version: Int): DataFrame = {
    val st = state(s, root, version)
    readAligned(s, root, st, st.files)
  }

  /** Union read of data files spanning schema generations. With a
    * declared schema, reads under an EXPLICIT physical schema — every
    * generation's physical name carried at the DECLARED (possibly
    * widened) type: parquet's scan-time widening promotion
    * (SPARK-40876) reads narrow old files as the wide type, which
    * `mergeSchema` cannot do (int + bigint refuse to merge), and
    * skipping footer-merging is cheaper besides. Columns absent from
    * a file surface null, stragglers from drops are never even read.
    * Pre-schema logs keep the mergeSchema union. */
  private[sources] def readUnion(s: SparkSession, files: Seq[String],
      decl: Option[org.apache.spark.sql.types.StructType],
      dvs: Seq[String] = Nil): DataFrame =
    decl match {
      case None => readFiles(s, files, None, Map("mergeSchema" -> "true"), dvs)
      case Some(d) =>
        val phys = org.apache.spark.sql.types.StructType(
          d.fields.toSeq.flatMap(f => physNames(f).map(n =>
            org.apache.spark.sql.types.StructField(n, f.dataType,
              nullable = true))))
        readFiles(s, files, Some(phys), dvs = dvs)
    }

  /** A parquet frame over `files`, which the log names, so the relation
    * resolves without Spark's path-existence check (a fresh
    * `checkPathsExist` thread pool per read): the listing stats every
    * file anyway, and a file it cannot find — vacuumed below the
    * retention floor — refuses here, while one deleted after the
    * listing fails at scan. With deletion-vector sidecars `dvs`
    * (absolute paths) the reader drops their rows ([[DvParquetFormat]]). */
  private def readFiles(s: SparkSession, files: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType],
      options: Map[String, String] = Map.empty,
      dvs: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.execution.datasources.{DataSource, HadoopFsRelation}
    val rel = DataSource(s, "parquet", paths = files,
      userSpecifiedSchema = schema, options = options)
      .resolveRelation(checkFilesExist = false).asInstanceOf[HadoopFsRelation]
    // the listing skips a root it cannot find: a root that is neither a
    // listed file nor the directory of one (a vector sidecar) is checked
    val bare = (p: String) => Path.getPathWithoutSchemeAndAuthority(new Path(p))
    val listed = rel.location.inputFiles.iterator.map(bare)
      .flatMap(p => Iterator(p, p.getParent)).toSet
    val gone = files.distinct.filterNot(p => listed(bare(p)))
      .filterNot(p => fs(s, p).exists(new Path(p)))
    if (gone.nonEmpty) throw new java.io.FileNotFoundException(
      s"TableLog: ${gone.mkString(", ")} does not exist")
    s.baseRelationToDataFrame(if (dvs.isEmpty) rel
      else rel.copy(fileFormat = new DvParquetFormat(dvBroadcast(s, dvs)),
        options = rel.options + ("graft.deletionVectors" -> dvs.mkString(",")))(
        rel.sparkSession))
  }

  /** Present `raw` under the DECLARED schema: declared column order,
    * columns added by addColumn but not yet written read as null,
    * stragglers from dropped nullable columns hidden. Shared by
    * [[snapshot]] and the streaming source. */
  private[sources] def alignDeclared(
      decl: org.apache.spark.sql.types.StructType, raw: DataFrame,
      keep: Seq[Column] = Nil): DataFrame = {
    val present = raw.columns.toSet
    raw.select(decl.fields.toSeq.map { f =>
      // a renamed column may appear under any of its physical names
      // (one per schema generation); exactly one is non-absent per
      // FILE, so coalesce across generations is exact.
      // The cast is the WIDENING finisher: per-commit readers (the
      // CDF assembly) surface pre-widen files at their narrow file
      // type — upcasting to the declared type is lossless by the
      // widensTo contract, and Catalyst elides it when types already
      // match.
      physNames(f).filter(present.contains) match {
        case Seq() => lit(null).cast(f.dataType).as(f.name)
        case Seq(one) => col(one).cast(f.dataType).as(f.name)
        case many => coalesce(many.map(col): _*).cast(f.dataType).as(f.name)
      }
    } ++ keep: _*)
  }

  /** Read `files` of `st` with the SNAPSHOT contract: [[readUnion]]
    * over them, `st`'s deletion vectors applied (by the reader within the
    * broadcast budget, by an anti-join past it), and `st`'s
    * declared schema presented through the name mapping — columns added
    * but not yet written read as null, declared column order, stragglers
    * from dropped nullable columns hidden (pre-schema logs keep the raw
    * union frame). [[snapshot]] reads every live file this way; a
    * pruned read or a rewrite reads its subset this way too, or
    * pre-rename rows would surface null under the declared name and
    * silently vanish from filters. `keyed` keeps [[keyedAlive]]'s
    * (_g_file, _g_pos) row key — taken on the scan itself, where the
    * metadata columns resolve — for the mutations that address rows by
    * position ([[deleteVector]], [[update]]). */
  private def readAligned(s: SparkSession, root: String, st: TableState,
      files: Seq[String], keyed: Boolean = false): DataFrame = {
    val inReader = dvInReader(s, root, st.dvs)
    val raw = readUnion(s, files.map(rel => abs(root, rel)), st.schema,
      if (inReader) st.dvs.map(abs(root, _)) else Nil)
    val antiJoined = if (inReader) Nil else st.dvs
    val alive = if (keyed) keyedAlive(s, root, raw, antiJoined)
      else applyDv(s, root, raw, antiJoined)
    st.schema match {
      case None => alive
      case Some(d) => alignDeclared(d, alive,
        if (keyed) Seq(col("_g_file"), col("_g_pos")) else Nil)
    }
  }

  /** Run `commit`; on failure delete the freshly-written sidecar
    * `subs` (data/stats/cdc/dv directories) before rethrowing — an
    * aborted publish (CAS conflict, schema or constraint rejection)
    * must not orphan unreferenced directories that [[vacuum]], which
    * only walks PUBLISHED records, could never reclaim. */
  private def publishOrClean(s: SparkSession, root: String,
      subs: => Seq[String])(commit: => Int): Int =
    try commit catch { case e: Throwable =>
      dropDirs(s, root, subs)
      throw e
    }

  /** Best-effort delete of the unpublished directories `subs` ("" =
    * none). */
  private def dropDirs(s: SparkSession, root: String,
      subs: Seq[String]): Unit = {
    val f = fs(s, root)
    subs.filter(_.nonEmpty).foreach { sub =>
      try { f.delete(new Path(s"$root/$sub"), true); () }
      catch { case _: Throwable => () }
    }
  }

  /** One commit as the streaming source sees it: (dataChange,
    * absolute add paths, remove count, whether the commit records
    * deletion-vector state, whether it carries a CDC record). The CDC
    * record is what separates a row-DELETING rewrite from a pure
    * layout rewrite — both publish dataChange=false, but deletes
    * always record cdc (the empty sentinel when capture is off),
    * exactly so feeds can refuse instead of silently skipping. */
  private[sources] def commitFeed(s: SparkSession, root: String, v: Int)
      : (Boolean, Seq[String], Int, Boolean, Boolean) = {
    val json = readText(fs(s, root), logPath(root, v))
    (parseDataChange(json), parseArr(json, "add").map(abs(root, _)),
      parseArr(json, "remove").size, parseDvs(json).isDefined,
      parseCdc(json).isDefined)
  }

  /** Rows ADDED by data-changing commits with version > `sinceVersion`
    * — incremental consumption: a consumer that remembers the last
    * version it processed reads only the new files. Compaction and
    * delete rewrites publish dataChange=false, so their re-written
    * (old) rows are never re-emitted; row DELETIONS are not emitted
    * either (this is append-stream semantics, not full CDC — a
    * consumer needing reconciled state re-reads a snapshot). */
  def changesSince(s: SparkSession, root: String, sinceVersion: Int): DataFrame = {
    val f = fs(s, root)
    val st = state(s, root, -1)
    val files = versions(s, root)
      .filter(v => v > sinceVersion && v <= st.version).flatMap { v =>
        val json = readText(f, logPath(root, v))
        if (parseDataChange(json)) parseArr(json, "add") else Seq.empty
      }
    // the added files' rows as written: no deletion vector applies
    if (files.isEmpty) snapshot(s, root, st.version).limit(0)
    else readAligned(s, root, st.copy(dvs = Nil), files)
  }

  // ---- change data feed (Delta CDF parity) -------------------------------
  // Row-level change capture: when `spark.graft.tablelog.cdf` is true,
  // every row mutation (deleteRange, deleteVector, update, merge,
  // mergeUpdate, mergeFull — all through commitMutation) writes its
  // changed rows — tagged with `_change_type` — as a parquet sidecar
  // inside the commit's data area, and the log entry records it
  // ("cdc":"<dir>"). Plain appends need no sidecar (their adds ARE the
  // inserts); layout rewrites (dataChange=false, no cdc) change
  // nothing. [[tableChanges]] then reads the feed for a version range.
  // The sentinel rule, with capture OFF: deleteRange, deleteVector,
  // update and a MERGE with a BY SOURCE clause record the EMPTY
  // sentinel ("cdc":""), so the feed refuses them — a deleteRange
  // would otherwise read as a layout rewrite and a deleteVector as a
  // metadata-only commit. merge and a MERGE without BY SOURCE record
  // none: one that removed files refuses as "not captured", and one
  // that removed none is an append and reads back as its inserts.
  // Capture cost is O(changed rows) extra write per mutating commit —
  // the same contract as Delta's _change_data directory; the sidecar
  // is data-before-log like everything else (written, then published).

  /** Change-type tag column of the feed ('insert', 'delete',
    * 'update_preimage', 'update_postimage'). */
  val ChangeTypeCol = "_change_type"
  /** Commit-version column added by [[tableChanges]]. */
  val CommitVersionCol = "_commit_version"

  private def cdfEnabled(s: SparkSession): Boolean =
    s.conf.getOption("spark.graft.tablelog.cdf").exists(_.toBoolean)

  /** The row-level change feed for commits in (sinceVersion, toVersion]
    * (toVersion = -1 → latest): every data column plus
    * [[ChangeTypeCol]] and [[CommitVersionCol]].
    *
    *  - Append commits emit their added rows as 'insert' (derived from
    *    the add list — no sidecar needed or written).
    *  - Mutating commits emit their captured sidecar
    *    ('delete' / 'update_preimage' / 'update_postimage' / 'insert').
    *  - Layout rewrites (dataChange=false, no sidecar) emit nothing —
    *    same rows, new files.
    *  - A row-mutating commit WITHOUT a sidecar (capture was off, or a
    *    restore/overwrite — whose change set is not captured) REFUSES
    *    loudly rather than fabricating an incomplete feed, exactly as
    *    Delta errors when CDF wasn't enabled for the range.
    *
    * Scale: planning is O(#commits in range) driver metadata; data
    * moves only through distributed parquet reads of exactly the
    * added/changed files. */
  def tableChanges(s: SparkSession, root: String, sinceVersion: Int,
      toVersion: Int = -1): DataFrame = {
    val f = fs(s, root)
    val hi = if (toVersion < 0) Int.MaxValue else toVersion
    val range = versions(s, root).filter(v => v > sinceVersion && v <= hi)
    val parts = range.flatMap { v =>
      val json = readText(f, logPath(root, v))
      val adds = parseArr(json, "add")
      val removes = parseArr(json, "remove")
      parseCdc(json) match {
        case Some("") => throw new IllegalStateException(
          s"TableLog: version $v of $root mutated rows with change capture " +
            "off (enable spark.graft.tablelog.cdf before mutating commits)")
        case Some(rel) =>
          val df = s.read.option("mergeSchema", "true").parquet(abs(root, rel))
          Some(df.withColumn(CommitVersionCol, lit(v)))
        case None if !parseDataChange(json) => None // layout: no row changes
        case None if removes.isEmpty && adds.nonEmpty =>
          Some(s.read.option("mergeSchema", "true")
            .parquet(adds.map(rel => abs(root, rel)): _*)
            .withColumn(ChangeTypeCol, lit("insert"))
            .withColumn(CommitVersionCol, lit(v)))
        case None if adds.isEmpty && removes.isEmpty => None // metadata-only
        case None => throw new IllegalStateException(
          s"TableLog: change data not captured for version $v of $root " +
            "(enable spark.graft.tablelog.cdf before mutating commits; " +
            "restore/overwrite feeds are never captured)")
      }
    }
    if (parts.isEmpty) {
      snapshot(s, root).limit(0)
        .withColumn(ChangeTypeCol, lit("insert"))
        .withColumn(CommitVersionCol, lit(0))
    } else {
      val raw = parts.reduce(_.unionByName(_, allowMissingColumns = true))
      // present the feed under the CURRENT declared schema (name
      // mapping included) + the two meta columns — pre-rename change
      // rows must surface under the declared name like any other read
      tableSchema(s, root) match {
        case None => raw
        case Some(decl) => alignDeclared(
          org.apache.spark.sql.types.StructType(decl.fields.toSeq :+
            org.apache.spark.sql.types.StructField(ChangeTypeCol,
              org.apache.spark.sql.types.StringType) :+
            org.apache.spark.sql.types.StructField(CommitVersionCol,
              org.apache.spark.sql.types.IntegerType)), raw)
      }
    }
  }

  // ---- pruned reads ------------------------------------------------------
  // readPoint, readRange, readBox and readPartition are one read: each
  // says which live files its sidecars admit and gives the residual
  // filter, and [[prunedRead]] resolves the table once, opens only the
  // admitted files under that state's vectors and schema, and filters.
  // Sidecars are advisory — a file without a record is always read and
  // the residual filter always applies — so they change the file list,
  // never an answer.

  /** The sidecar records of `st`'s live files, split into fields (file,
    * column, values…). `fixedName` None reads the stats sidecars, which
    * the adding commits name in the log; otherwise the sidecar of that
    * fixed name in each live file's commit dir (a dir without one
    * contributes nothing). */
  private def sidecarRows(s: SparkSession, root: String, st: TableState,
      fixedName: Option[String]): Seq[Array[String]] = {
    val f = fs(s, root)
    val paths = fixedName match {
      case None => st.live.flatMap(_._2).distinct.map(rel => new Path(abs(root, rel)))
      case Some(n) => st.files.map(_.split('/').dropRight(1).mkString("/"))
        .distinct.map(d => new Path(s"${abs(root, d)}/$n")).filter(f.exists)
    }
    paths.flatMap(p => readText(f, p).split('\n').filter(_.nonEmpty)
      .map(_.split("\t", -1)))
  }

  /** Per-file [lo, hi] bounds of `column` over `st`'s live files, from
    * the stats sidecars (absent = no stats for the column, always read). */
  private def bounds(s: SparkSession, root: String, st: TableState,
      column: String): Map[String, (Long, Long)] =
    sidecarRows(s, root, st, None).collect {
      case Array(file, c, mn, mx) if c == column => file -> (mn.toLong, mx.toLong)
    }.toMap

  /** Whether a live file of `st` can hold a row with `column` in
    * [lo, hi]: stats-pruned when bounds exist, kept when they don't. */
  private def rangeAdmits(s: SparkSession, root: String, st: TableState,
      column: String, lo: Long, hi: Long): String => Boolean = {
    val b = bounds(s, root, st, column)
    file => b.get(file).forall { case (mn, mx) => mx >= lo && mn <= hi }
  }

  /** The one pruned read: the table as of `version` resolved once, the
    * live files `admits` lets through (given that state) read with
    * [[readAligned]] under the same state, then `residual`. With no
    * file kept, the empty snapshot of that version — an empty path
    * list would make the reader throw instead of returning zero rows. */
  private def prunedRead(s: SparkSession, root: String, version: Int,
      residual: Column)(admits: TableState => String => Boolean): DataFrame = {
    val st = state(s, root, version)
    val keep = st.files.filter(admits(st))
    if (keep.isEmpty) snapshot(s, root, st.version).limit(0)
    else readAligned(s, root, st, keep).filter(residual)
  }

  // ---- bloom-filter file skipping ----------------------------------------
  // Per-file bloom sidecars for POINT lookups — the pruning class
  // min/max stats structurally cannot serve: a hash-distributed or
  // unsorted high-cardinality key gives every file the full [min,max]
  // span, so range stats prune nothing, while a bloom answers "key
  // definitely not in this file" per file. The sidecar
  // (`<commit-dir>/_bloom.tsv`: file \t column \t base64(bitset))
  // lives INSIDE the commit's data directory at a FIXED name, so no
  // log-format or checkpoint change is needed — [[readPoint]] derives
  // each live file's sidecar path from its own. Advisory by
  // construction: a missing/unparsable sidecar (pre-bloom commits,
  // merge/compact rewrites) leaves the file in the always-read class;
  // the exact residual filter always applies, so blooms change
  // planning I/O, never answers. k=5 xxhash64 probes; size via
  // `spark.graft.tablelog.bloom.bits` (default 2^20 bits = 128 KiB per
  // file·column — at ~10 bits/distinct-key that holds ~100k keys per
  // file at <1% false-positive; size it to your file row count).
  // False NEGATIVES are impossible (the writer sets every probed bit
  // of every present key), which is what makes the skip safe. Parquet's
  // own row-group blooms (write option
  // `parquet.bloom.filter.enabled#<col>`) compose WITHIN the files
  // that survive this file-level skip.

  private val BloomK = 5
  private def bloomBits(s: SparkSession): Int =
    s.conf.getOption("spark.graft.tablelog.bloom.bits")
      .map(_.toInt).getOrElse(1 << 20)

  /** Typed bloom-bitset aggregator: input = bit position, buffer =
    * byte-array bitset (reduce sets, merge ORs). */
  private class BloomAgg(mBits: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        java.lang.Long, Array[Byte], Array[Byte]] {
    def zero: Array[Byte] = new Array[Byte](mBits / 8)
    def reduce(b: Array[Byte], pos: java.lang.Long): Array[Byte] = {
      val p = pos.longValue().toInt
      b(p >>> 3) = (b(p >>> 3) | (1 << (p & 7))).toByte; b
    }
    def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
      var i = 0; while (i < a.length) { a(i) = (a(i) | b(i)).toByte; i += 1 }
      a
    }
    def finish(b: Array[Byte]): Array[Byte] = b
    def bufferEncoder: org.apache.spark.sql.Encoder[Array[Byte]] =
      org.apache.spark.sql.Encoders.BINARY
    def outputEncoder: org.apache.spark.sql.Encoder[Array[Byte]] =
      org.apache.spark.sql.Encoders.BINARY
  }

  /** The k probe positions of `value` — same math on both sides:
    * writer as a codegen'd column over (value, seed), reader
    * driver-side via the identical catalyst XxHash64 evaluation. */
  private def bloomPosCol(c: Column, mBits: Int): Seq[Column] =
    (0 until BloomK).map(i => pmod(xxhash64(lit(i), c), lit(mBits.toLong)))

  private def bloomPositions(value: Long, mBits: Int): Seq[Int] =
    (0 until BloomK).map { i =>
      val h = new org.apache.spark.sql.catalyst.expressions.XxHash64(Seq(
        org.apache.spark.sql.catalyst.expressions.Literal(i),
        org.apache.spark.sql.catalyst.expressions.Literal(value)))
        .eval(null).asInstanceOf[Long]
      val m = h % mBits
      (if (m < 0) m + mBits else m).toInt
    }

  /** One distributed pass building a per-file bloom bitset for each of
    * `bloomCols` (long-valued), written as `_bloom.tsv` inside the
    * commit subdir. O(#files · mBits/8) driver transfer. */
  private def writeBloom(s: SparkSession, root: String, sub: String,
      bloomCols: Seq[String]): Unit = {
    if (bloomCols.isEmpty) return
    val m = bloomBits(s)
    val agg = udaf(new BloomAgg(m))
    val src = s.read.parquet(s"$root/$sub")
    val lines = bloomCols.flatMap { c =>
      val pos = explode(array(bloomPosCol(col(c).cast(LongType), m): _*))
      src.select(input_file_name().as("f"), pos.as("pos"))
        .filter(col("pos").isNotNull) // NULL keys probe nothing
        .groupBy(col("f")).agg(agg(col("pos")).as("bits"))
        .collect().map { r =>
          val file = sub + "/" + r.getString(0).split('/').last
          val b64 = java.util.Base64.getEncoder
            .encodeToString(r.getAs[Array[Byte]]("bits"))
          s"$file\t$c\t$b64"
        }
    }
    writeTsv(s, root, s"$sub/_bloom.tsv", lines)
  }

  /** Whether the bloom sidecar of a live file of `st` admits `value` in
    * `column` (a file without one is admitted). */
  private def bloomAdmits(s: SparkSession, root: String, st: TableState,
      column: String, value: Long): String => Boolean = {
    val blooms = sidecarRows(s, root, st, Some("_bloom.tsv")).collect {
      case Array(file, c, b64) if c == column =>
        file -> java.util.Base64.getDecoder.decode(b64)
    }.toMap
    // probe positions depend on the bitset size, which may vary across
    // commits (conf change) — memoize per distinct size
    val posFor = mutable.Map.empty[Int, Seq[Int]]
    file => blooms.get(file).forall { bits =>
      posFor.getOrElseUpdate(bits.length * 8,
        bloomPositions(value, bits.length * 8))
        .forall(p => (bits(p >>> 3) & (1 << (p & 7))) != 0)
    }
  }

  /** Point lookup with bloom + stats file skipping: opens only live
    * files whose bloom admits `value` (or that have no bloom) AND
    * whose min/max range admits it (or that have no stats), then
    * applies the exact residual filter. The planning payoff on a
    * hash-distributed key: stats prune nothing (every file spans the
    * key range), the bloom prunes to ~1 file + the false-positive
    * tail. */
  def readPoint(s: SparkSession, root: String, column: String,
      value: Long, version: Int = -1): DataFrame =
    prunedRead(s, root, version, col(column) === value) { st =>
      val inBloom = bloomAdmits(s, root, st, column, value)
      val inRange = rangeAdmits(s, root, st, column, value, value)
      file => inBloom(file) && inRange(file)
    }

  // ---- hidden partitioning (Iceberg-style per-file partition values) -----

  /** Max distinct partition values recorded per (file, column); a
    * file exceeding it gets NO record — always read, never mis-pruned. */
  private val PvCap = 64

  /** One distributed pass recording each file's DISTINCT values of
    * `partCols`, written as `_pv.tsv` inside the commit subdir
    * (values base64-coded — TSV-safe for arbitrary strings). The
    * Iceberg manifest-entry analogue: the partition "layout" is
    * per-file METADATA, not directory names, so the main read path
    * (snapshot / mergeSchema / DV alignment / rename mapping) is
    * untouched, and files need not be value-pure — pruning QUALITY
    * degrades with file purity, correctness never does. */
  private def writePartValues(s: SparkSession, root: String, sub: String,
      partCols: Seq[String]): Unit = {
    if (partCols.isEmpty) return
    val src = s.read.parquet(s"$root/$sub")
    val lines = partCols.flatMap { c =>
      src.select(input_file_name().as("f"), col(c).cast("string").as("v"))
        .groupBy(col("f"))
        .agg(collect_set(col("v")).as("vs"))
        .collect()                    // O(#files) — driver metadata
        .flatMap { r =>
          val vs = r.getSeq[String](1)
          if (vs.size > PvCap) None   // over cap: no record, always read
          else {
            val file = sub + "/" + r.getString(0).split('/').last
            // an all-NULL file records the EMPTY set — prunable for
            // every probe value (equality never matches NULL)
            val b64 = vs.sorted.map(v => java.util.Base64.getEncoder
              .encodeToString(v.getBytes("UTF-8"))).mkString(",")
            Some(s"$file\t$c\t$b64")
          }
        }
    }
    writeTsv(s, root, s"$sub/_pv.tsv", lines)
  }

  /** Whether the partition-value set a live file of `st` records for
    * `column` contains `value` (a file without a record is admitted). */
  private def pvAdmits(s: SparkSession, root: String, st: TableState,
      column: String, value: String): String => Boolean = {
    val pv = sidecarRows(s, root, st, Some("_pv.tsv")).collect {
      case Array(file, c, b64) if c == column =>
        file -> b64.split(',').filter(_.nonEmpty).map(v =>
          new String(java.util.Base64.getDecoder.decode(v), "UTF-8")).toSet
    }.toMap
    file => pv.get(file).forall(_.contains(value))
  }

  /** Append with hidden partitioning (Iceberg-style): rows are
    * repartitioned by `partCols` so data files are (typically)
    * value-pure, and each file's distinct partition values are logged
    * as a `_pv.tsv` sidecar; [[readPartition]] then plans its file
    * list from metadata alone. Unlike Hive directory layout the
    * partition columns STAY in the data files — nothing to
    * reconstruct from paths, and every existing read/mutate path
    * (snapshot, time travel, CDF, DVs, rename alignment, compaction)
    * works unchanged; a compaction that mixes values merely costs the
    * pruning until the next partitioned write. At 100 TB the payoff
    * is Hive-partition-shaped planning — O(matching files) — without
    * the small-file explosion a high-cardinality directory layout
    * forces: the cap-and-skip rule keeps manifests bounded and the
    * writer free to bin-pack. */
  def appendPartitioned(s: SparkSession, root: String, df: DataFrame,
      partCols: Seq[String], statsCols: Seq[String] = Nil): Int = {
    // EXPLICIT partition count: a bare repartition(cols) is an AQE
    // coalesce target, and a small commit collapses to ONE mixed-value
    // file — pruning stays correct but prunes nothing. Pinning the
    // count keeps files value-pure up to hash collisions.
    val p = s.sessionState.conf.numShufflePartitions
    val (sub, files) =
      writeData(s, root, df.repartition(p, partCols.map(col): _*))
    writePartValues(s, root, sub, partCols)
    publishOrClean(s, root, Seq(sub)) {
      publish(s, root, files, Seq.empty, writeStats(s, root, sub, statsCols),
        schema = Some(df.schema))
    }
  }

  /** The file list [[readPartition]] would open for (`column` =
    * `value`) — planning introspection (Delta `inputFiles` analogue),
    * and the hook tests use to prove pruned-out files are never
    * touched. Paths relative to `root`. */
  def readPartitionFiles(s: SparkSession, root: String, column: String,
      value: String, version: Int = -1): Seq[String] = {
    val st = state(s, root, version)
    st.files.filter(pvAdmits(s, root, st, column, value))
  }

  /** Exact-match partitioned read: opens only live files whose logged
    * partition-value set contains `value` (files without a record are
    * always read), then applies the residual filter. */
  def readPartition(s: SparkSession, root: String, column: String,
      value: String, version: Int = -1): DataFrame =
    prunedRead(s, root, version, col(column) === value)(
      pvAdmits(s, root, _, column, value))

  /** Range read with metadata-level file skipping: opens only files
    * whose logged [min, max] intersects [lo, hi] (plus any file
    * without stats), then applies the exact residual filter. */
  def readRange(s: SparkSession, root: String, column: String,
      lo: Long, hi: Long, version: Int = -1): DataFrame =
    prunedRead(s, root, version, col(column) >= lo && col(column) <= hi)(
      rangeAdmits(s, root, _, column, lo, hi))

  /** Box read over TWO stats columns — the z-order payoff: a file
    * survives only if BOTH its logged ranges intersect the box, so a
    * z-ordered (Morton-clustered) layout prunes on either dimension
    * alone or both together, where a single-column sort helps only
    * its own column. Residual filters applied as always. */
  def readBox(s: SparkSession, root: String,
      c1: String, lo1: Long, hi1: Long,
      c2: String, lo2: Long, hi2: Long, version: Int = -1): DataFrame =
    prunedRead(s, root, version, col(c1) >= lo1 && col(c1) <= hi1 &&
        col(c2) >= lo2 && col(c2) <= hi2) { st =>
      val in1 = rangeAdmits(s, root, st, c1, lo1, hi1)
      val in2 = rangeAdmits(s, root, st, c2, lo2, hi2)
      file => in1(file) && in2(file)
    }

  // ---- row mutations: each resolves the table ONCE ([[state]]), reads
  // the files it touches under that state, and ends in [[commitMutation]]

  /** Delete every row with `column` in [lo, hi], rewriting ONLY the
    * files whose stats admit a match; the swap publishes as one
    * commit and untouched files keep their identity and stats.
    * Returns the committed version. */
  def deleteRange(s: SparkSession, root: String, column: String,
      lo: Long, hi: Long): Int = {
    val st = state(s, root, -1)
    val touched = st.files.filter(rangeAdmits(s, root, st, column, lo, hi))
    require(touched.nonEmpty, "deleteRange: nothing to delete")
    // DV-filtered: rewriting a touched file must not resurrect its
    // vector-deleted rows (the survivors land in fresh files the
    // vectors don't name); untouched files keep their DV entries live,
    // and a deleteVector landing mid-rewrite aborts this commit at
    // publish instead of losing its rows
    val src = readAligned(s, root, st, touched)
    val inRange = col(column) >= lo && col(column) <= hi
    // NULL in the delete column is inside neither range nor its
    // negation — keep such rows explicitly, or every rewritten file
    // (including stats-less ones, always rewritten) would silently
    // drop them: data loss beyond the requested range. The survivors
    // are old rows (dataChange=false); the deleted rows are the feed.
    commitMutation(s, root, st, touched, sentinel = true,
      statsCols = Seq(column), dataChange = false,
      changes = src.filter(inRange).withColumn(ChangeTypeCol, lit("delete")))(
      writeData(s, root, src.filter(col(column).isNull || !inRange)))
  }

  /** DELETE WHERE `predicate` without rewriting ANY data file — the
    * deletion-vector form (Delta DV / Iceberg positional-delete
    * parity). The matching rows' (file key, `_metadata.row_index`)
    * pairs are written as a parquet sidecar (O(deleted rows) bytes,
    * distributed write) and ONE metadata commit appends it to the
    * active-vector list; every data file keeps its identity, bytes,
    * and stats. Reads drop the vectors' rows (see [[readAligned]]); a later
    * [[compact]]/[[rewrite]] materializes and clears them. Pre-delete
    * versions remain time-travelable (the vectors are versioned state,
    * not file mutations).
    *
    * Why it matters at scale: deleting 0.1% of a 100 TB table by
    * rewrite copies ~100 TB; by vector it appends kilobytes and defers
    * the copy to the next scheduled compaction. The trade is read-side
    * work — a per-row position test inside each scan's reader while
    * vectors are active (an anti-join past the broadcast budget, see
    * [[readAligned]]).
    *
    * Cost: ONE Spark job, the sidecar write, which also counts the
    * matched rows (a named `Observation`) — no separate emptiness probe.
    * The matched rows are cached only while change capture is on, when
    * the CDC sidecar is their second reader.
    *
    * Publish CAS-revalidates that BOTH the live-file set and the DV
    * state still equal what this delete computed against — a
    * concurrent compact/merge/delete aborts one side loudly instead of
    * silently losing rows (same posture as the remove-set check).
    * Already-vector-deleted rows are excluded from the read, so
    * re-deleting an overlapping predicate records only the NEW rows
    * and the CDF feed never double-reports a delete. A predicate that
    * matches nothing (or an empty table) is a no-op: no commit, no
    * sidecar left on disk, the current version returned. */
  def deleteVector(s: SparkSession, root: String, predicate: Column): Int = {
    val st = state(s, root, -1)
    if (st.live.isEmpty) return st.version
    val aligned = readAligned(s, root, st, st.files, keyed = true)
    val dataCols = aligned.columns.toSeq
      .filterNot(Set("_g_file", "_g_pos")).map(col)
    val hits = aligned.filter(predicate)
    val matched = if (cdfEnabled(s)) hits.cache() else hits
    val counted = org.apache.spark.sql.Observation("graft_dv_matched")
    try {
      val dvSub = s"data/${UUID.randomUUID()}-dv"
      commitMutation(s, root, st, Seq.empty, sentinel = true,
        dvs = Some(st.dvs :+ dvSub), expectFiles = Some(st.files.toSet),
        changes = matched.select(dataCols: _*)
          .withColumn(ChangeTypeCol, lit("delete")),
        abandon = counted.get("rows") == 0L) {
        matched.select(col("_g_file").as("file"), col("_g_pos").as("pos"))
          .observe(counted, count(lit(1)).as("rows"))
          .write.parquet(s"$root/$dvSub")
        (dvSub, Seq.empty)
      }
    } finally if (matched ne hits) matched.unpersist()
  }

  /** UPDATE … SET … WHERE (Delta UPDATE parity): rewrite ONLY the
    * files containing at least one matching alive row; every other
    * file keeps its identity, bytes, and stats. File targeting is
    * predicate-EXACT — one map-only pass marks each matching row with
    * its `_metadata` file identity, each partition sends back its
    * distinct file keys, and the driver de-duplicates the O(#files ×
    * #partitions) keys (one job, no shuffle) — where min/max stats
    * could only approximate an arbitrary predicate (and would still
    * be consulted by the scan below them). The touched files are
    * re-read under the captured DV state (rewriting must not
    * resurrect vector-deleted rows), SET applies where the predicate
    * holds, and the swap publishes as ONE commit whose remove set and
    * expectDvs CAS-revalidate at publish — a racing delete/compact
    * aborts one side loudly. CDF records update_preimage/postimage
    * pairs for the matched rows (the MERGE contract). A predicate
    * that matches nothing is a no-op (SQL UPDATE semantics): no
    * commit, the current version returned.
    *
    * 100 TB shape: write amplification is |touched files|, not
    * |table| — an UPDATE hitting 0.1% of a clustered table rewrites
    * ~0.1% of its files; the scan that finds them is one full read
    * of the predicate columns only (column-pruned). */
  def update(s: SparkSession, root: String, predicate: Column,
      set: Map[String, Column], statsCols: Seq[String] = Nil): Int = {
    require(set.nonEmpty, "update: empty SET clause")
    val st = state(s, root, -1)
    requireSetColumns(s, root, st, set, "update")
    if (st.live.isEmpty) return st.version
    val str = org.apache.spark.sql.Encoders.STRING
    val touched = readAligned(s, root, st, st.files, keyed = true)
      .filter(predicate).select(col("_g_file")).as(str)
      .mapPartitions(_.toSet.iterator)(str)
      .collect().distinct.toSeq.sorted
    if (touched.isEmpty) return st.version
    val src = readAligned(s, root, st, touched)
    // hit flag materializes BEFORE any SET applies: a SET that
    // rewrites a predicate column (SET x = 0 WHERE x > 5) must still
    // report its postimages
    val flagged = src.withColumn("__g_hit", predicate)
    val hit = col("__g_hit")
    val updated = applySet(flagged, set, hit)
    val outCols = src.columns.map(col).toSeq
    commitMutation(s, root, st, touched, sentinel = true,
      statsCols = statsCols,
      changes = updateImages(flagged, updated, hit, outCols))(
      writeData(s, root, updated.select(outCols: _*)))
  }

  /** `df` with every `set` column replaced where `hit` holds, as ONE
    * projection, never chained withColumn: every SET right-hand side
    * evaluates against the row PREIMAGE (SQL semantics — SET a = b,
    * b = a swaps), where sequential withColumn would feed later
    * assignments the already-updated values in Map-iteration order. */
  private def applySet(df: DataFrame, set: Map[String, Column],
      hit: Column): DataFrame =
    df.select(df.columns.toSeq.map { c =>
      set.get(c) match {
        case Some(e) => when(hit, e).otherwise(col(c)).as(c)
        case None => col(c)
      }
    }: _*)

  /** The CDF update pairs of the rows `hit` selects: preimages from
    * `before`, postimages from `after` ([[applySet]] of `before`), both
    * projected to `cols`. */
  private def updateImages(before: DataFrame, after: DataFrame, hit: Column,
      cols: Seq[Column]): DataFrame =
    before.filter(hit).select(cols: _*)
      .withColumn(ChangeTypeCol, lit("update_preimage"))
      .unionByName(after.filter(hit).select(cols: _*)
        .withColumn(ChangeTypeCol, lit("update_postimage")))

  /** MERGE (upsert-by-key): every target row whose `keyCol` appears
    * in `source` is REPLACED by the source row (all columns), and
    * source rows with new keys are INSERTED — one atomic commit.
    *
    * Scale shape: file selection is PER-FILE EXACT ([[mergeFront]]),
    * so an INSERT-heavy source (fresh keys outside every file's
    * range) rewrites nothing it doesn't have to; a global source
    * bounding box would smear updates and inserts together and touch
    * everything in between. Touched files are rewritten with a LEFT
    * ANTI join against the source keys (drop matched, keep the rest)
    * and the source unioned in; the key set is broadcast while it
    * fits the budget, else the anti-join shuffles. Every other file
    * keeps its identity, stats, and bytes. Duplicate or NULL keys in
    * the SOURCE are rejected (one deterministic winner per key);
    * duplicate keys in the target all get replaced by the one source
    * row — which is why this form keeps its anti-join body instead of
    * [[mergeInto]]'s join, which would update each duplicate in place.
    * Returns the committed version. */
  def merge(s: SparkSession, root: String, source: DataFrame,
      keyCol: String, statsCols: Seq[String] = Nil): Int = {
    val st = state(s, root, -1)
    val src = source.cache()
    try {
      val (touched, smallSrc) =
        mergeFront(s, root, st, src, keyCol, prune = true)
      val keys = src.select(col(keyCol))
      val srcKeys = if (smallSrc) broadcast(keys) else keys
      val tgt =
        if (touched.isEmpty) src.limit(0)
        else readAligned(s, root, st, touched)
      // CDF: matched keys can only live in touched files (stats-exact
      // selection), so `tgt` is the complete preimage universe —
      // replaced target rows are the update preimages, their source
      // counterparts the postimages, and fresh-key source rows inserts
      def changes = {
        val tgtKeys = tgt.select(col(keyCol))
        tgt.join(srcKeys, Seq(keyCol), "left_semi")
          .withColumn(ChangeTypeCol, lit("update_preimage"))
          .unionByName(src.join(tgtKeys, Seq(keyCol), "left_semi")
            .withColumn(ChangeTypeCol, lit("update_postimage")))
          .unionByName(src.join(tgtKeys, Seq(keyCol), "left_anti")
            .withColumn(ChangeTypeCol, lit("insert")))
      }
      commitMutation(s, root, st, touched, sentinel = false,
        statsCols = statsCols, changes = changes)(writeData(s, root,
        tgt.join(srcKeys, Seq(keyCol), "left_anti").unionByName(src)))
    } finally src.unpersist()
  }

  /** MERGE front half, ONE aggregate over the (cached) source: it
    * rejects NULL and duplicate keys, counts them against the
    * broadcast budget (`spark.graft.merge.broadcastMaxKeys`, default
    * 1M keys — a bulk backfill source shuffles instead of OOMing the
    * driver) and, with `prune`, tests each key against the live files'
    * [min,max] key stats, held as one literal array (O(#keys ×
    * #files) comparisons), collecting the indices of the files it
    * falls in. Files without stats for `keyCol` are always touched;
    * without `prune` (BY SOURCE) every file is. Both distinct-key
    * counts ignore NULL keys, so rows == distinct keys is exact once the
    * null gate, checked first, passes. A source whose plan bounds its
    * rows within the key budget (a VALUES list, a driver-side batch) is
    * counted as the size of its key set: one shuffle where
    * count_distinct plans two, holding at most the budget's keys in the
    * final task, as the broadcast source holds them on the driver. Any
    * other source keeps count_distinct, whose aggregation spills.
    * Returns (touched files in live order, source fits the budget). */
  private def mergeFront(s: SparkSession, root: String, st: TableState,
      src: DataFrame, keyCol: String, prune: Boolean): (Seq[String], Boolean) = {
    val b = if (prune) bounds(s, root, st, keyCol) else Map.empty[String, (Long, Long)]
    val ranges = st.files.zipWithIndex.flatMap { case (fl, i) =>
      b.get(fl).map { case (mn, mx) => (i, mn, mx) }
    }
    val bcastMaxKeys = s.conf.getOption("spark.graft.merge.broadcastMaxKeys")
      .map(_.toLong).getOrElse(1000000L)
    val k = col(keyCol).cast(LongType)
    val hits = collect_set(transform(
      filter(typedLit(ranges), r => k >= r.getField("_2") && k <= r.getField("_3")),
      r => r.getField("_1")))
    val bounded = src.queryExecution.analyzed.maxRows.exists(_ <= bcastMaxKeys)
    val guard = Seq(count(lit(1)),
      count(when(col(keyCol).isNull, lit(1))), // count: never NULL on empty src
      if (bounded) size(collect_set(col(keyCol))).cast(LongType)
      else count_distinct(col(keyCol)))
    val r = src.agg(guard.head,
      guard.tail ++ (if (ranges.isEmpty) Nil else Seq(hits)): _*).head()
    require(r.getLong(1) == 0L, s"merge: NULL $keyCol values in source")
    require(r.getLong(0) == r.getLong(2),
      s"merge: duplicate $keyCol values in source")
    val hit = if (ranges.isEmpty) Set.empty[Int]
      else r.getSeq[scala.collection.Seq[Int]](3).flatten.toSet
    val touched = if (!prune) st.files else st.files.zipWithIndex.collect {
      case (fl, i) if !b.contains(fl) || hit(i) => fl
    }
    (touched, r.getLong(0) <= bcastMaxKeys)
  }

  /** Unknown SET names refuse loudly — `set.get(c)` against the
    * joined frame would otherwise silently no-op a misspelled or
    * alias-qualified assignment (the lost update nobody notices). */
  private def requireSetColumns(s: SparkSession, root: String,
      st: TableState, set: Map[String, Column], verb: String): Unit = {
    val cols = st.schema.map(_.fieldNames.toSeq)
      .getOrElse(snapshot(s, root, st.version).columns.toSeq).toSet
    val unknown = set.keySet -- cols
    require(unknown.isEmpty,
      s"$verb: SET names unknown target column(s) ${unknown.mkString(", ")}")
  }

  /** MERGE, conditional-update form (Delta parity:
    * `WHEN MATCHED AND <cond> THEN UPDATE SET c = expr, ...` +
    * optional `WHEN NOT MATCHED THEN INSERT *`) — [[mergeInto]]
    * without a BY SOURCE clause:
    *
    *  - Target rows join the source by `keyCol`; inside `cond` and the
    *    `set` expressions, target columns appear under their own names
    *    and source columns under a `src_` prefix (e.g.
    *    `col("src_price") > col("price")`).
    *  - A matched target row satisfying `cond` gets EXACTLY the `set`
    *    columns replaced; all other columns — and matched rows failing
    *    `cond` — keep their target values (this is the column-level
    *    update [[merge]]'s replace-whole-row form cannot express).
    *  - Source rows whose key matches nothing are inserted wholesale
    *    when `insertUnmatched` (aligned by name), else dropped.
    *
    * File selection, rewrite confinement, and the broadcast-vs-shuffle
    * source threshold are identical to [[merge]] ([[mergeFront]]).
    * One atomic commit; returns the version. */
  def mergeUpdate(s: SparkSession, root: String, source: DataFrame,
      keyCol: String, cond: Column, set: Map[String, Column],
      insertUnmatched: Boolean = true, statsCols: Seq[String] = Nil): Int =
    mergeInto(s, root, source, keyCol, cond, set, None, insertUnmatched,
      statsCols)

  /** MERGE, full three-clause form (Delta >= 2.4 parity) — adds
    * `WHEN NOT MATCHED BY SOURCE [AND <bySourceCond>] THEN DELETE`
    * to [[mergeUpdate]]'s matched-update + unmatched-insert clauses:
    * target rows whose key appears in NO source row and that satisfy
    * `bySourceCond` (target columns only) are deleted; everything
    * else follows [[mergeUpdate]] exactly. One atomic commit; returns
    * the version. */
  def mergeFull(s: SparkSession, root: String, source: DataFrame,
      keyCol: String, cond: Column, set: Map[String, Column],
      bySourceCond: Column, insertUnmatched: Boolean = true,
      statsCols: Seq[String] = Nil): Int =
    mergeInto(s, root, source, keyCol, cond, set, Some(bySourceCond),
      insertUnmatched, statsCols)

  /** The one MERGE body behind [[mergeUpdate]], [[mergeFull]] and SQL
    * MERGE: matched rows passing `cond` get `set`, unmatched source
    * rows insert when `insertUnmatched`, and with `bySource` target
    * rows whose key is in no source row and that satisfy it are
    * deleted.
    *
    * File selection is where BY SOURCE differs fundamentally: "key NOT
    * IN source" is true of almost every row of almost every file, so
    * per-file stats CANNOT prune — the rewrite touches EVERY live file
    * (Delta pays the same; its docs call the clause out as a
    * full-table operation). Without it, files are picked by stats
    * ([[mergeFront]]): matched keys can only live in touched files,
    * so the unmatched-insert anti-join needs only the touched files'
    * keys, and with no file touched every source row is an insert. */
  private[graft] def mergeInto(s: SparkSession, root: String,
      source: DataFrame, keyCol: String, cond: Column,
      set: Map[String, Column], bySource: Option[Column],
      insertUnmatched: Boolean, statsCols: Seq[String]): Int = {
    val st = state(s, root, -1)
    requireSetColumns(s, root, st, set, "merge")
    val src = source.cache()
    try {
      val (touched, smallSrc) =
        mergeFront(s, root, st, src, keyCol, prune = bySource.isEmpty)
      val (kept, changes) =
        if (touched.isEmpty) {
          val ins = if (insertUnmatched) src else src.limit(0)
          (ins, () => ins.withColumn(ChangeTypeCol, lit("insert")))
        } else {
          val tgt = readAligned(s, root, st, touched)
          val srcPref = src.toDF(src.columns.toSeq.map(c => s"src_$c"): _*)
          // clause flags materialize BEFORE any SET applies: a condition
          // referencing a SET column must see the TARGET value, not the
          // half-updated frame (and every SET column the same verdict).
          // SQL MERGE deletes only on a definitive TRUE: a NULL BY
          // SOURCE condition keeps its row (filter(!NULL) would silently
          // drop it AND omit it from the CDF — the deleteRange NULL
          // contract). Without the clause `__doomed` folds to false and
          // the optimizer drops its filter and its CDF branch.
          val joined = tgt.join(if (smallSrc) broadcast(srcPref) else srcPref,
            tgt(keyCol) === srcPref(s"src_$keyCol"), "left")
            .select(col("*"), (col(s"src_$keyCol").isNotNull && cond).as("__hit"),
              coalesce(col(s"src_$keyCol").isNull &&
                bySource.getOrElse(lit(false)), lit(false)).as("__doomed"))
          val hit = col("__hit")
          val doomed = col("__doomed")
          val updated = applySet(joined, set, hit)
          val tgtCols = tgt.columns.map(col).toSeq
          // right side here is the TARGET keys (not the source), so
          // the smallSrc guard doesn't apply — leave the strategy to
          // AQE. No-INSERT merges take an empty TARGET-schema frame:
          // the source may legitimately be narrower than the target
          // (an update-only merge)
          val inserts =
            if (!insertUnmatched) tgt.select(tgtCols: _*).limit(0)
            else src.join(tgt.select(col(keyCol)), Seq(keyCol), "left_anti")
          // CDF: only condition-passing matches are updates — rows the
          // condition leaves untouched are NOT changes
          (updated.filter(!doomed).select(tgtCols: _*).unionByName(inserts),
            () => updateImages(joined, updated, hit, tgtCols)
              .unionByName(joined.filter(doomed).select(tgtCols: _*)
                .withColumn(ChangeTypeCol, lit("delete")))
              .unionByName(inserts.withColumn(ChangeTypeCol, lit("insert"))))
        }
      commitMutation(s, root, st, touched, sentinel = bySource.isDefined,
        statsCols = statsCols, changes = changes())(
        writeData(s, root, kept))
    } finally src.unpersist()
  }

  /** The one commit tail of every row mutation: the data leg `write`
    * (returning its fresh subdir and the files it added) overlaps the
    * CDC sidecar write (par2); the stats sidecar follows the data;
    * the entry publishes removing `remove`, CAS-revalidated against
    * the DV state the mutation read (and, with `expectFiles`, the live
    * set); a refused publish deletes every fresh directory.
    * `changes` is evaluated only with capture on — an empty frame
    * still writes a schema-bearing file, so "captured but no rows"
    * reads back as zero changes, distinct from "not captured" — and
    * `sentinel` records the empty CDC marker with capture off (the
    * rule is in the change-data-feed section). `abandon`, evaluated
    * once both writes are done, drops the fresh directories and
    * publishes nothing. Returns the committed version, or `st`'s when
    * abandoned. */
  private def commitMutation(s: SparkSession, root: String, st: TableState,
      remove: Seq[String], changes: => DataFrame, sentinel: Boolean,
      statsCols: Seq[String] = Nil, dataChange: Boolean = true,
      dvs: Option[Seq[String]] = None,
      expectFiles: Option[Set[String]] = None, abandon: => Boolean = false)(
      write: => (String, Seq[String])): Int = {
    val ((sub, adds), cdc) = par2(write,
      if (cdfEnabled(s)) {
        val dir = s"data/${UUID.randomUUID()}-cdc"
        changes.write.parquet(s"$root/$dir")
        Some(dir)
      } else if (sentinel) Some("") else None)
    if (abandon) {
      dropDirs(s, root, sub +: cdc.toSeq)
      return st.version
    }
    publishOrClean(s, root, sub +: cdc.toSeq) {
      publish(s, root, adds, remove, writeStats(s, root, sub, statsCols),
        dataChange = dataChange, cdc = cdc, dvs = dvs,
        expectFiles = expectFiles, expectDvs = Some(st.dvs))
    }
  }

  /** Replace the live set with whatever `write` produces into the
    * fresh directory it is handed — the general layout-rewrite commit
    * (compaction, z-ordering, re-sorting): same rows, new physical
    * organization, published atomically with dataChange=false and
    * fresh per-file stats for `statsCols`.
    *
    * Contract: `write` must materialize the rows of the CURRENT
    * snapshot (all callers read through [[snapshot]], which applies
    * active deletion vectors) — so a rewrite MATERIALIZES pending DV
    * deletes and clears the vector state. `expectDvs` should be the DV
    * state as of the caller's snapshot read (defaults to the state at
    * entry); publish CAS-revalidates it so a deleteVector racing the
    * rewrite aborts one side instead of losing the delete. */
  def rewrite(s: SparkSession, root: String, statsCols: Seq[String] = Nil,
      expectDvs: Option[Seq[String]] = None,
      base: Option[Seq[String]] = None)(
      write: String => Unit): Int = {
    lazy val head = state(s, root, -1)
    val dv0 = expectDvs.getOrElse(head.dvs)
    // base = the file list the caller's snapshot was RESOLVED against.
    // Callers materializing a pre-read frame MUST pass it ([[pinSnapshot]]):
    // re-resolving here would race a commit landing between the
    // caller's snapshot and this call — the newcomer's file would
    // join the remove set without its rows joining the rewrite, a
    // silent lost update (caught by the TableLogSpec CAS storm fuzz).
    val old = base.getOrElse(head.files)
    val sub = s"data/${UUID.randomUUID()}"
    write(s"$root/$sub")
    publishOrClean(s, root, Seq(sub)) {
      publish(s, root, subFiles(s, root, sub), old, writeStats(s, root, sub, statsCols),
        dataChange = false, dvs = Some(Seq.empty), expectDvs = Some(dv0))
    }
  }

  /** Pin the current snapshot for a layout rewrite: DV state and live
    * file list resolved ONCE, and the returned frame reads EXACTLY
    * those files under those vectors — so the (files, dvs) pair can
    * ride into [[rewrite]]'s remove set and CAS revalidation as the
    * precise state the rows were computed from. A commit landing
    * after this pin either leaves the pinned files live (add-only —
    * its rows survive the swap untouched) or invalidates the pin at
    * publish time (remove/DV change — ConcurrentModificationException,
    * retryable). */
  def pinSnapshot(s: SparkSession, root: String)
      : (Seq[String], Seq[String], DataFrame) = {
    val st = state(s, root, -1)
    (st.files, st.dvs, readAligned(s, root, st, st.files))
  }

  /** Rewrite the live set into `numFiles` files and publish the swap
    * as one atomic commit. Old snapshots keep reading the old files.
    * The new files get stats for `statsCols`, by default for the columns
    * the live files' stats sidecars bound and the table still declares,
    * so the pruned reads and MERGE keep skipping after a compaction. */
  def compact(s: SparkSession, root: String, numFiles: Int,
      statsCols: Seq[String] = Nil): Int = {
    val st = state(s, root, -1)
    val snap = readAligned(s, root, st, st.files)
    val declared = st.schema.map(_.fieldNames.toSet)
    val bound = if (statsCols.nonEmpty) statsCols
      else sidecarRows(s, root, st, None).map(_(1)).distinct
        .filter(c => declared.forall(_(c)))
    rewrite(s, root, bound, expectDvs = Some(st.dvs), base = Some(st.files))(
      dir => snap.coalesce(numFiles).write.parquet(dir))
  }

  /** RESTORE parity: make the live set equal what it was at `version`
    * by publishing ONE commit (add = files live then but not now,
    * remove = files live now but not then). History is preserved — the
    * restore is itself a new version, the undone commits remain
    * time-travelable, and a racing writer conflicts through the normal
    * remove-set CAS validation. Fails if `version`'s files were
    * vacuumed. Re-added files rejoin the no-stats always-read class
    * (a commit carries one stats sidecar; the originals' sidecars
    * stay with their own commits) — pruning weakens until the next
    * stats-bearing rewrite, answers never change. Returns the
    * committed version. */
  def restore(s: SparkSession, root: String, version: Int): Int = {
    val f = fs(s, root)
    val then_ = state(s, root, version)
    then_.files.foreach(rel => require(f.exists(new Path(abs(root, rel))),
      s"restore: $rel was vacuumed; version $version is not restorable"))
    // the deletion-vector state restores with the file set — a restore
    // across a deleteVector resurrects its rows, a restore across a
    // materializing compact re-applies the then-active vectors
    then_.dvs.foreach(d => require(f.exists(new Path(abs(root, d))),
      s"restore: deletion vector $d was vacuumed; " +
        s"version $version is not restorable"))
    val now = state(s, root, -1).files
    val thenSet = then_.files.toSet
    publish(s, root, then_.files.filterNot(now.toSet), now.filterNot(thenSet),
      dataChange = true, dvs = Some(then_.dvs))
  }

  /** Commit history as a DataFrame — `DESCRIBE HISTORY` parity:
    * (version, n_add, n_remove, data_change, txn_app, txn_version)
    * per commit, ascending. Driver-side log metadata (O(#commits)),
    * surfaced relationally so audits compose with the query engine. */
  def history(s: SparkSession, root: String): DataFrame = {
    val f = fs(s, root)
    val rows = versions(s, root).map { v =>
      val json = readText(f, logPath(root, v))
      val txn = parseTxn(json)
      org.apache.spark.sql.Row(v, parseArr(json, "add").size,
        parseArr(json, "remove").size, parseDataChange(json),
        txn.map(_._1).orNull,
        txn.map(t => java.lang.Long.valueOf(t._2)).orNull)
    }
    import org.apache.spark.sql.types._
    s.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("version", IntegerType, nullable = false),
      StructField("n_add", IntegerType, nullable = false),
      StructField("n_remove", IntegerType, nullable = false),
      StructField("data_change", BooleanType, nullable = false),
      StructField("txn_app", StringType),
      StructField("txn_version", LongType))))
  }

  /** Shallow CLONE (Delta parity): start a NEW log at `dstRoot` whose
    * first commit references the source's current live files BY
    * ABSOLUTE PATH — zero data bytes copied, O(#files) metadata only.
    * The clone then evolves independently: appends/merges/deletes on
    * either side never touch the other (the referenced files are
    * immutable by the log contract — mutation always writes NEW
    * files). Carried over: the per-file min/max stats (remapped into
    * one dst-local sidecar, so stats pruning keeps working), the
    * declared schema, and the active deletion vectors (also by
    * absolute path). NOT carried: CHECK constraints and txn
    * watermarks (a clone is a new table, not a continuation of the
    * writer's exactly-once stream). [[vacuum]] on either side never
    * reclaims external (absolute-path) references — but the same
    * Delta caveat applies: a vacuum on the SOURCE that drops files
    * the clone still references breaks the clone. Retain source
    * history for the clone's lifetime, or compact the clone (which
    * rewrites it onto its own files) to sever the dependency.
    *
    * Why it matters at scale: CLONE is the zero-cost test/dev branch
    * of a 100 TB table — experiment with deletes, schema evolution,
    * or OPTIMIZE on the clone; throw it away or compact it into
    * independence. Returns the clone's first committed version (0). */
  def shallowClone(s: SparkSession, srcRoot: String, dstRoot: String): Int = {
    require(versions(s, dstRoot).isEmpty,
      s"shallowClone: $dstRoot already has a log")
    val st = state(s, srcRoot, -1)
    require(st.live.nonEmpty, s"shallowClone: $srcRoot is empty")
    val files = st.files.map(abs(srcRoot, _))
    // one merged dst-local sidecar, keyed by the absolute names the
    // clone's add list uses (each source commit's sidecar keyed its
    // own relative names — a cross-root lookup would silently miss
    // and demote every file to the always-read class)
    val statLines = sidecarRows(s, srcRoot, st, None).collect {
      case Array(file, c, mn, mx) => s"${abs(srcRoot, file)}\t$c\t$mn\t$mx"
    }
    val statsFile = if (statLines.isEmpty) None else {
      val rel = s"data/clone-${UUID.randomUUID()}/_stats.tsv"
      writeTsv(s, dstRoot, rel, statLines) // create() makes the dir
      Some(rel)
    }
    val srcDvs = st.dvs.map(abs(srcRoot, _))
    publish(s, dstRoot, files, Seq.empty, statsFile,
      schema = st.schema, enforceSchema = false,
      dvs = if (srcDvs.isEmpty) None else Some(srcDvs))
  }

  /** Reclaim data files no snapshot at version >= `retainFrom` can
    * reach (the files delisted by the retained log prefix). Time
    * travel to versions before `retainFrom` stops working; newer
    * snapshots are untouched. Returns the number of reclaimed
    * files/sidecars (the `VACUUM` report).
    *
    * **Reader-vs-vacuum contract** (Delta's retention posture): an
    * open snapshot at version >= `retainFrom` is SAFE — vacuum only
    * deletes files that no retained version lists, and commits never
    * mutate listed files, so every file such a snapshot resolved
    * eagerly stays on disk. An open snapshot BELOW `retainFrom` is
    * outside the retention window: its files may be reclaimed
    * mid-read, and the read then fails LOUDLY (FileNotFound at scan
    * time) — it can never silently return partial rows, because the
    * file list was fixed at snapshot time and Spark does not skip
    * missing inputs unless `spark.sql.files.ignoreMissingFiles` is
    * explicitly enabled. Operators choose `retainFrom` to exceed the
    * longest-running reader, exactly as with Delta's retention
    * interval. */
  def vacuum(s: SparkSession, root: String, retainFrom: Int): Int = {
    val f = fs(s, root)
    val vs = versions(s, root)
    val retained = vs.filter(_ >= retainFrom)
    // one replay per retained version, plus the head (a commit may have
    // landed since the listing)
    val kept = (retained :+ -1).map(state(s, root, _))
    val reachable = kept.flatMap(_.files).toSet
    val all = vs
      .flatMap(v => parseArr(readText(f, logPath(root, v)), "add")).toSet
    // external (clone-referenced) files belong to their source table —
    // never reclaimed from the referencing side
    val doomed = (all -- reachable).filterNot(isExternal)
    doomed.foreach(rel => f.delete(new Path(s"$root/$rel"), false))
    // deletion-vector sidecars no retained version can need (a compact
    // cleared them, or the declaring commit fell out of retention)
    val dvReachable = kept.flatMap(_.dvs).toSet
    val dvAll = vs.flatMap(v =>
      parseDvs(readText(f, logPath(root, v))).getOrElse(Seq.empty)).toSet
    val dvDoomed = (dvAll -- dvReachable).filterNot(isExternal)
    dvDoomed.foreach(rel => f.delete(new Path(s"$root/$rel"), true))
    doomed.size + dvDoomed.size
  }
}
