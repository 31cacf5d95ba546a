package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.json4s.{JDecimal, JInt, JNothing, JNull, JString, JValue}

import graft.util.Json

/** Versioned-manifest table — the minimal TABLE FORMAT the A15/A16
  * contracts were missing (SURVEY "what's missing" #2): multi-writer
  * atomic commits, snapshot-isolated reads, and time travel, built on
  * nothing but the filesystem primitives every object store / HDFS
  * provides. A tiny Delta-shaped log, not a Delta dependency (none is
  * available offline — and the protocol is ~200 lines).
  *
  * Layout:
  * {{{
  *   <table>/data/<commit-uuid>-part-*.parquet   (append-only namespace)
  *   <table>/_graft_log/v00001.json              (one manifest per version)
  * }}}
  *
  * Protocol:
  *  - WRITE: stage the frame to a scratch dir, move the part files into
  *    `data/` under a commit-unique prefix (invisible: readers only see
  *    files a manifest references), then publish manifest `v{N+1}` with
  *    `fs.create(path, overwrite = false)` — the CREATE-IF-ABSENT is the
  *    commit point and the CAS: two writers racing to the same version
  *    number have exactly one winner; the loser re-reads the new latest
  *    and REBASES (append: new base file list; overwrite: nothing to
  *    rebase) up to `maxRetries` times. Optimistic concurrency, the
  *    Delta/Iceberg commit shape.
  *  - READ: resolve the latest (or `asOf`) manifest and load EXACTLY its
  *    file list. A reader planned at version N never sees version N+1's
  *    files — snapshot isolation by construction. Data files never
  *    referenced (a writer that died before its manifest) are invisible
  *    forever and reclaimed by [[vacuumVersions]].
  *  - A failed commit leaves only unreferenced data files — the table is
  *    never partially visible (the A15 contract, now PER COMMIT rather
  *    than per staged-swap window, and concurrency-safe).
  *
  * At 100 TB: commits move metadata, not data (the manifest lists files;
  * an append rewrites nothing); readers plan from one small JSON instead
  * of a directory listing of millions of files; upsert composes as
  * read-latest → merge → overwrite-commit with snapshot isolation.
  * Atomicity of create-if-absent holds on HDFS and local filesystems;
  * on S3 proper it needs a coordination layer (documented deviation —
  * the same one Delta-on-S3 has).
  *
  * The full protocol surface (each `fw_*`-oracled and spec-pinned):
  *  - time travel by version and wall clock ([[read]], [[versionAt]]);
  *    metadata DESCRIBE HISTORY ([[history]]); CDC over appends
  *    ([[changesBetween]]) and the two-snapshot row diff for everything
  *    else ([[diffVersions]])
  *  - FILE-LEVEL MERGE ([[merge]]): narrow upserts rewrite only
  *    zone-map-matched files
  *  - row-level DELETE/UPDATE via DELETION VECTORS ([[deleteWhere]],
  *    [[updateWhere]] — type-preserving SETs enforced): (file, position)
  *    sidecars, zero data files rewritten; [[compactDeletes]] rewrites
  *    only delete-heavy files
  *  - zero-copy BRANCHES + write-audit-publish ([[createBranch]],
  *    [[branchCommit]] with exactly-once txns, [[readBranch]],
  *    [[publishBranch]] — serializable fast-forward, [[dropBranch]])
  *  - zone maps + bucket bitmaps ([[readPruned]]); schema-drift guard
  *    with opt-in mergeSchema evolution; exactly-once streaming commits
  *    (txn); branch-aware [[vacuumVersions]]
  *  - version-aware MATERIALIZED VIEWS with incremental additive
  *    maintenance live in [[MaterializedView]]
  *
  * ZONE MAPS (r10): `commit(statsColumns = ...)` records per-FILE
  * min/max/null-count for the named columns in a JSONL sidecar the
  * manifest references (`stats_file`), and [[readPruned]] plans a scan
  * from ONLY the files whose [min,max] can satisfy a predicate — the
  * manifest-level data skipping a 100 TB table needs before any byte of
  * parquet is opened (file pruning from one small JSON beats opening a
  * million parquet footers; the footers then prune row groups WITHIN
  * the kept files). Stats cost one extra pass over the NEW files of the
  * commit only, and appends carry base-file stats forward by name.
  */
object VersionedTable {

  private def fsFor(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The commit-publish primitive ([[CommitCoordinator]]). Default:
    * atomic rename-if-absent (HDFS/local/conditional-PUT stores). Swap
    * in [[LockFileCommitCoordinator]] for overwrite-only object stores
    * — a process-wide deployment property set once at startup, like a
    * Delta LogStore class. */
  @volatile private var coordinatorImpl: CommitCoordinator = RenameCommitCoordinator
  def setCommitCoordinator(c: CommitCoordinator): Unit = coordinatorImpl = c
  def commitCoordinator: CommitCoordinator = coordinatorImpl

  private def logDir(root: Path) = new Path(root, "_graft_log")
  private def dataDir(root: Path) = new Path(root, "data")
  private def dataPaths(root: Path, names: Seq[String]): Seq[String] =
    names.map(n => new Path(dataDir(root), n).toString)
  private def manifestPath(root: Path, v: Long) =
    new Path(logDir(root), f"v$v%05d.json")

  /** Committed versions on MAIN, ascending (empty for a fresh location).
    * Branch manifests (`vNNNNN@branch.json`, [[createBranch]]) are a
    * separate lineage and are excluded here. */
  def versions(spark: SparkSession, location: String): Seq[Long] = {
    val root = new Path(location)
    val fs = fsFor(spark, root)
    if (!fs.exists(logDir(root))) Seq.empty
    else fs.listStatus(logDir(root)).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".json")
          && !n.contains("@") =>
        n.stripPrefix("v").stripSuffix(".json").toLong }
      .sorted
  }

  private val BranchName = "^[a-z0-9][a-z0-9_-]{0,31}$".r

  private def branchManifestPath(root: Path, v: Long, branch: String) =
    new Path(logDir(root), f"v$v%05d@$branch.json")

  private def rebaseMarkerPath(root: Path, branch: String, uuid: String) =
    new Path(logDir(root), s".rebase-commit-$branch-$uuid.json")

  /** Crashed-rebase recovery (r11 ADVICE): [[rebaseBranch]] decides at
    * its commit MARKER — everything after (old-manifest deletes, temp→
    * real publishes, cleanup) is replayable from the marker's recorded
    * (tmp, versions). A marker found on a branch read means a rebase
    * crashed mid-publish (or is seconds from finishing — helping is
    * safe: publishes are CAS'd with identical content, deletes are
    * idempotent): adopt the recorded lineage, drop stale pre-rebase
    * manifests outside the recorded version set, clear the marker.
    * Markerless temp lineages are UNDECIDED debris — the old branch is
    * intact by construction — and are expired once older than
    * `spark.graft.rebase.recovery.ttl.ms` (default 10 min; the TTL
    * keeps recovery from racing a live rebase's own window between
    * temp-write and marker). */
  private def recoverRebase(fs: FileSystem, root: Path, branch: String,
                            names: Seq[String], ttlMillis: Long): Boolean = {
    val q = java.util.regex.Pattern.quote(branch)
    val Marker = s"^\\.rebase-commit-$q-[0-9a-f]{8}\\.json$$".r
    val TmpManifest = s"^v[0-9]+@$q\\.rebase-[0-9a-f]{8}\\.json$$".r
    val markers = names.filter(n => Marker.pattern.matcher(n).matches())
    var acted = false
    markers.foreach { mn =>
      try {
        val marker = Json.load[Json.RebaseMarker](fs, new Path(logDir(root), mn))
        val versions = marker.versions.toSet
        marker.versions.sorted.foreach { v =>
          val tmpPath = branchManifestPath(root, v, marker.tmp)
          if (fs.exists(tmpPath)) {
            val content = Json.readFile(fs, tmpPath)
            // anything at this version under the real name is the old
            // lineage (possibly version-colliding) — the marker decided
            fs.delete(branchManifestPath(root, v, branch), false)
            coordinatorImpl.publish(fs, logDir(root),
              branchManifestPath(root, v, branch),
              content.getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
            fs.delete(tmpPath, false)
          } // temp gone = already published (temp deletion follows publish)
        }
        // stale pre-rebase lineage outside the recorded set — swept
        // from the ORIGINAL `names` snapshot, never a fresh listing:
        // a manifest that appeared after our listing is a
        // post-recovery commit by someone who already finished this
        // recovery (their marker-delete precedes any new commit) and
        // must survive the sweep
        val suffix = s"@$branch.json"
        names
          .collect { case n if n.startsWith("v") && n.endsWith(suffix) =>
            (n.stripPrefix("v").stripSuffix(suffix).toLong, n) }
          .filterNot { case (v, _) => versions(v) }
          .foreach { case (_, n) => fs.delete(new Path(logDir(root), n), false) }
        fs.delete(new Path(logDir(root), mn), false)
        acted = true
      } catch { case _: java.io.IOException => () } // torn/contended: retry next read
    }
    // markerless temp debris: the rebase never decided — expire past TTL
    val now = System.currentTimeMillis()
    names.filter(n => TmpManifest.pattern.matcher(n).matches()).foreach { n =>
      try {
        val p = new Path(logDir(root), n)
        if (now - fs.getFileStatus(p).getModificationTime > ttlMillis) {
          fs.delete(p, false); acted = true
        }
      } catch { case _: java.io.IOException => () }
    }
    acted
  }

  /** Committed versions on `branch`, ascending (empty if the branch does
    * not exist). Branch version numbers continue the parent's sequence
    * from the fork point. Finishes any crashed rebase it finds first
    * ([[recoverRebase]]), so a branch is never unreadable under its real
    * name because a rebase died mid-publish. */
  def branchVersions(spark: SparkSession, location: String,
                     branch: String): Seq[Long] = {
    val root = new Path(location)
    val fs = fsFor(spark, root)
    val suffix = s"@$branch.json"
    if (!fs.exists(logDir(root))) Seq.empty
    else {
      var names = fs.listStatus(logDir(root)).toSeq.map(_.getPath.getName)
      // cheap name probe first — recovery work only when rebase debris
      // for THIS branch is actually present
      if (names.exists(n => n.startsWith(s".rebase-commit-$branch-") ||
            n.contains(s"@$branch.rebase-"))) {
        val ttl = spark.conf.getOption("spark.graft.rebase.recovery.ttl.ms")
          .map(_.toLong).getOrElse(600000L)
        if (recoverRebase(fs, root, branch, names, ttl))
          names = fs.listStatus(logDir(root)).toSeq.map(_.getPath.getName)
      }
      names.collect { case n if n.startsWith("v") && n.endsWith(suffix) =>
        n.stripPrefix("v").stripSuffix(suffix).toLong }
        .sorted
    }
  }

  /** Publish pre-rendered manifest text at `p` via the same temp-file +
    * rename-if-absent pattern as [[writeManifestCas]] — a crashed writer
    * can never expose a torn manifest. Throws if `p` already exists. */
  private def writeRawManifest(fs: FileSystem, root: Path, p: Path,
                               text: String): Unit =
    if (!coordinatorImpl.publish(fs, logDir(root), p,
      text.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      throw new java.io.IOException(s"manifest '$p' already exists")

  private def writeManifestCas(fs: FileSystem, root: Path, v: Long,
                               mode: String, files: Seq[Json.FileEntry],
                               schema: Option[StructType],
                               txn: Option[(String, Long)],
                               statsFile: Option[String] = None,
                               dv: Option[(String, Long)] = None,
                               branch: Option[String] = None): Boolean = {
    // commit wall clock: what as-of-TIMESTAMP reads resolve against
    // (informational ordering only — the version number is the truth)
    val manifest = Json.Manifest(v, Some(System.currentTimeMillis()), mode,
      txn.map(_._1), txn.map(_._2), statsFile, dv.map(_._1), dv.map(_._2),
      files.size, files.sortBy(_.name), schema.map(_.json))
    val p = branch.fold(manifestPath(root, v))(branchManifestPath(root, v, _))
    // The publish primitive is PLUGGABLE ([[CommitCoordinator]]): the
    // default is write-complete-content-then-rename-if-absent
    // (FileContext + Options.Rename.NONE — the Delta HDFSLogStore
    // pattern), correct on HDFS/local/conditional-PUT stores; a
    // lease-based [[LockFileCommitCoordinator]] covers overwrite-only
    // object stores where atomic rename does not exist. Either way the
    // content exists in full before the committed name does, so a
    // crashed writer can never expose a torn manifest that readers
    // would treat as a committed version (and whose empty file list the
    // next append would silently adopt as its base).
    coordinatorImpl.publish(fs, logDir(root), p,
      Json.write(manifest).getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  private def manifestAt(fs: FileSystem, p: Path): Json.Manifest =
    Json.load[Json.Manifest](fs, p)

  private def manifestOf(fs: FileSystem, root: Path, v: Long): Json.Manifest =
    manifestAt(fs, manifestPath(root, v))

  /** [[manifestOf]] memoized for one operation: a committed main
    * manifest never changes, so each is opened at most once per call. */
  private def manifestReader(fs: FileSystem, root: Path): Long => Json.Manifest = {
    val seen = scala.collection.mutable.Map.empty[Long, Json.Manifest]
    v => seen.getOrElseUpdate(v, manifestOf(fs, root, v))
  }

  // ---------------------------------------------------------------- schema

  /** `t` with every field, nested ones included, nullable: the form Spark
    * reads any file-source table in. Manifests record schemas in this
    * form, so schemas that differ only in nullability compare equal. */
  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType =>
      MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** The schema files written from `df` are read back with. */
  private def schemaOf(df: DataFrame): StructType =
    nullable(df.schema).asInstanceOf[StructType]

  /** The schema `m` records for every file it lists; None on a manifest
    * written before the field existed or after a schema-evolving append. */
  private def schemaOf(m: Json.Manifest): Option[StructType] =
    m.schema.map(DataType.fromJson(_).asInstanceOf[StructType])

  /** The schema a writer records when it adds files of schema `written`
    * to `base`'s: the base's, when the new files have it; otherwise none,
    * and readers of the new version infer as they do on a legacy table. */
  private def carriedSchema(base: Json.Manifest, written: StructType): Option[StructType] =
    schemaOf(base).filter(_ == written)

  private def mergeSchemaOn(options: Map[String, String]): Boolean =
    options.exists { case (k, v) =>
      k.equalsIgnoreCase("mergeSchema") && v.equalsIgnoreCase("true") }

  /** The schema a scan may declare instead of inferring one. Parquet
    * footers carry Spark's own schema, so the recorded schema reads the
    * same columns without the one-task footer job; CSV and JSON infer
    * other types than they were written with, and a mergeSchema read must
    * union every footer, so those still infer. */
  private def declared(schema: Option[StructType], format: String,
                       options: Map[String, String]): Option[StructType] =
    schema.filter(_ => format == "parquet" && !mergeSchemaOn(options))

  /** The one data-file reader in this file: `paths` as `format`, with the
    * recorded `schema` declared where [[declared]] allows it. */
  private def scan(spark: SparkSession, paths: Seq[String], schema: Option[StructType],
                   format: String, options: Map[String, String]): DataFrame = {
    val reader = spark.read.format(format).options(graft.sources.Sources.mapOptions(options))
    declared(schema, format, options).fold(reader)(reader.schema).load(paths: _*)
  }

  /** What a write of `frame` changes against the table's `table` schema,
    * as one message part; empty when nothing does. Columns compare by
    * name; `types` also compares their data types, since a parquet column
    * read at another type than it was written fails the whole read. */
  private def drift(table: StructType, frame: StructType, types: Boolean): String = {
    val (tableCols, newCols) = (table.fieldNames.toSet, frame.fieldNames.toSet)
    val missing = (tableCols -- newCols).toSeq.sorted
    val added = (newCols -- tableCols).toSeq.sorted
    val changed =
      if (!types) Nil
      else table.fields.toSeq.flatMap(f => frame.find(_.name == f.name)
        .map(_.dataType).filter(_ != f.dataType)
        .map(t => s"${f.name} ${f.dataType.sql} -> ${t.sql}"))
    Seq("missing" -> missing, "added" -> added, "changed" -> changed)
      .collect { case (what, cols) if cols.nonEmpty => s"$what: ${cols.mkString(", ")}; " }
      .mkString
  }

  // ------------------------------------------------------- deletion vectors

  /** A version's deletion vector: the manifest's `dv_file`, a parquet
    * DIRECTORY under `_graft_log/` with columns `file: string, pos: long`
    * (`dv_rows` is its row count; both absent with no deletes). */
  private def readDv(spark: SparkSession, root: Path, name: String): DataFrame =
    spark.read.schema(DvSchema).parquet(new Path(logDir(root), name).toString)

  /** The columns every deletion-vector writer produces. */
  private val DvSchema = StructType.fromDDL("file STRING, pos BIGINT")

  /** `df` (which must carry parquet `_metadata`) with its row
    * positions exposed as `__dv_file` (file basename) / `__dv_pos`
    * (row index) and the deletion vector — when one is named —
    * anti-joined away (the DV is the small side; AQE broadcasts it).
    * The ONE position-derivation in this file: [[applyDv]],
    * [[deleteWhere]], [[updateWhere]], and the BY SOURCE merge path
    * all read through it, so the DV layout cannot fork. */
  private def livePositions(spark: SparkSession, root: Path, df: DataFrame,
                            dv: Option[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val withPos = df
      .withColumn("__dv_file",
        element_at(split(col("_metadata.file_path"), "/"), -1))
      .withColumn("__dv_pos", col("_metadata.row_index"))
    dv.fold(withPos) { name =>
      withPos.join(readDv(spark, root, name)
          .select(col("file").as("__dv_file"), col("pos").as("__dv_pos")),
        Seq("__dv_file", "__dv_pos"), "left_anti")
    }
  }

  /** Anti-join `df` (which must carry parquet `_metadata`) against the
    * deletion vector: rows whose (file basename, row position) appear in
    * the DV disappear. */
  private def applyDv(spark: SparkSession, root: Path, df: DataFrame,
                      dvName: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val outCols = df.columns.toSeq
    livePositions(spark, root, df, Some(dvName)).select(outCols.map(col): _*)
  }

  // ---------------------------------------------------------------- stats

  /** Per-file column stats. `min`/`max` are CANONICAL TOKENS (see
    * [[canonToken]]): an unquoted decimal for numeric/temporal values, a
    * JSON string otherwise, the literal `null` for an all-null file.
    * Ordering on tokens of the same kind equals ordering on the values. */
  final case class ColStats(min: String, max: String, nulls: Long)

  /** One total order per kind, chosen so stats written at commit time and
    * predicate values supplied at read time compare exactly:
    *  - numbers (int/long/float/double/decimal) -> decimal
    *  - timestamps -> epoch micros; dates -> epoch days (numbers:
    *    java.sql.Timestamp.toString renders in the WRITER JVM's default
    *    time zone, so its string form is not comparable across writers —
    *    epoch numbers are exact and zone-free)
    *  - booleans -> 0/1
    *  - strings (and anything else) -> string, lexicographic
    * A kind mismatch at prune time keeps the file (conservative). */
  private def canonValue(v: Any): JValue = v match {
    case null => JNull
    case b: Boolean => JInt(if (b) 1 else 0)
    case n: Byte => JInt(n.toInt)
    case n: Short => JInt(n.toInt)
    case n: Int => JInt(n)
    case n: Long => JInt(n)
    case n: Float => JDecimal(BigDecimal(n.toDouble))
    case n: Double => JDecimal(BigDecimal(n))
    case n: java.math.BigDecimal => JDecimal(BigDecimal(n))
    case n: BigDecimal => JDecimal(n)
    case t: java.sql.Timestamp => // floorDiv: exact for pre-epoch instants
      JInt(Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L)
    case t: java.time.Instant =>
      JInt(t.getEpochSecond * 1000000L + t.getNano / 1000L)
    case t: java.time.LocalDateTime =>
      canonValue(java.time.Instant.from(t.atZone(java.time.ZoneOffset.UTC)))
    case d: java.sql.Date => JInt(d.toLocalDate.toEpochDay)
    case d: java.time.LocalDate => JInt(d.toEpochDay)
    case s => JString(s.toString)
  }

  /** The JSON text of [[canonValue]] — the token [[ColStats]] carries. */
  private[sinks] def canonToken(v: Any): String = Json.render(canonValue(v))

  /** cmp on canonical values; None = not comparable (null / kind
    * mismatch). Strings compare on the decoded value, numbers exactly. */
  private def cmpValues(a: JValue, b: JValue): Option[Int] = (a, b) match {
    case (JString(x), JString(y)) => Some(x.compareTo(y))
    case _ => for (x <- decimalOf(a); y <- decimalOf(b)) yield x.compare(y)
  }

  private def decimalOf(v: JValue): Option[BigDecimal] = v match {
    case JInt(i) => Some(BigDecimal(i))
    case JDecimal(d) => Some(d)
    case _ => None
  }

  /** A commit's sidecar content: per-(file,col) zone maps, per-file row
    * counts (the metadata [[history]] answers count(*) from), and
    * per-(file,col) bucket BITMAPS — which of 4096 value-hash buckets
    * the file's values occupy (base64; 512 bytes/file/col). The bitmap
    * is the point-lookup tier: an `=` probe on an UNCLUSTERED column
    * skips a file whose [min,max] spans the value but whose bucket bit
    * is clear (the ORC-bloom / Iceberg-value-set shape, one-hash form —
    * false positives only cost an open, never correctness). */
  private final case class SidecarStats(cols: Seq[Json.StatsLine],
                                        rows: Seq[Json.RowsLine],
                                        sets: Seq[Json.BucketsLine] = Nil) {
    def isEmpty: Boolean = cols.isEmpty && rows.isEmpty && sets.isEmpty
    def ++(o: SidecarStats): SidecarStats =
      SidecarStats(cols ++ o.cols, rows ++ o.rows, sets ++ o.sets)
    def filterFiles(keep: Set[String]): SidecarStats =
      SidecarStats(cols.filter(l => keep(l.name)), rows.filter(l => keep(l.name)),
        sets.filter(l => keep(l.name)))
    /** file -> column -> zone map */
    def zoneMaps: Map[String, Map[String, Json.StatsLine]] =
      cols.groupBy(_.name).map { case (f, xs) => (f, xs.map(l => (l.col, l)).toMap) }
  }
  private object SidecarStats { val empty: SidecarStats = SidecarStats(Nil, Nil) }

  private[sinks] val BitmapBuckets = 4096

  /** The bucket of one value under the bitmap's hashing: murmur3 (Spark's
    * `hash()`, seed 42) of the value's CANONICAL STRING form — columns
    * are cast to string before hashing so an Int column and a Long probe
    * agree; consulted only for integral/string probes (whose toString
    * matches Spark's cast-to-string exactly). */
  private def bitmapBucket(canonical: String): Int = {
    val h = org.apache.spark.sql.catalyst.expressions.Murmur3Hash(
      Seq(org.apache.spark.sql.catalyst.expressions.Literal(canonical)), 42)
      .eval(null).asInstanceOf[Int]
    ((h % BitmapBuckets) + BitmapBuckets) % BitmapBuckets
  }

  private def renderBitmap(buckets: Iterable[Int]): String = {
    val bytes = new Array[Byte](BitmapBuckets / 8)
    buckets.foreach { b => bytes(b >> 3) = (bytes(b >> 3) | (1 << (b & 7))).toByte }
    java.util.Base64.getEncoder.encodeToString(bytes)
  }

  private def bitmapHas(b64: String, bucket: Int): Boolean = {
    val bytes = java.util.Base64.getDecoder.decode(b64)
    (bytes(bucket >> 3) & (1 << (bucket & 7))) != 0
  }

  /** Compute per-file stats for `cols` over exactly `paths` (the NEW
    * files of one commit, written with `schema`). One scan of the new
    * data; the collect is bounded by n_new_files × n_cols triples. */
  private def computeStats(spark: SparkSession, paths: Seq[String], schema: StructType,
                           cols: Seq[String], format: String,
                           options: Map[String, String]): SidecarStats = {
    import org.apache.spark.sql.functions._
    if (paths.isEmpty || cols.isEmpty) return SidecarStats.empty
    val df = scan(spark, paths, Some(schema), format, options)
    val missing = cols.filterNot(df.columns.contains)
    if (missing.nonEmpty) throw new graft.config.ConfigError(
      s"versioned commit: stats columns ${missing.mkString(", ")} not in the " +
        s"frame (has: ${df.columns.mkString(", ")})")
    // bitmaps only for columns whose cast-to-string form a probe's
    // toString reproduces EXACTLY — integral and string kinds. A double
    // column would hash "50.0" while an integral probe hashes "50"
    // (matching under Spark's casting equality), so fractional/decimal/
    // temporal columns get no bitmap and fall back to the range tier.
    val bitmapCols = cols.filter { c =>
      df.schema(c).dataType match {
        case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.StringType => true
        case _ => false
      }
    }.toSet
    val aggs = count(lit(1)).as("__rows") +: cols.flatMap(c => Seq(
      min(col(c)).as(s"__min_$c"), max(col(c)).as(s"__max_$c"),
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nulls_$c")) ++
      // bucket bitmap feed: murmur3 of the canonical string form,
      // bounded at BitmapBuckets distinct ints per (file, col)
      (if (bitmapCols(c)) Seq(
        collect_set(pmod(hash(col(c).cast("string")), lit(BitmapBuckets)))
          .as(s"__set_$c")) else Nil))
    val collected = df.groupBy(input_file_name().as("__file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect().toSeq
    SidecarStats(
      cols = collected.flatMap { r =>
        val fileName = new Path(r.getAs[String]("__file")).getName
        cols.map { c =>
          Json.StatsLine(fileName, c,
            canonValue(r.getAs[Any](s"__min_$c")),
            canonValue(r.getAs[Any](s"__max_$c")),
            Option(r.getAs[Any](s"__nulls_$c")).fold(0L)(_.toString.toLong))
        }
      },
      rows = collected.map { r =>
        Json.RowsLine(new Path(r.getAs[String]("__file")).getName, r.getAs[Long]("__rows"))
      },
      sets = collected.flatMap { r =>
        val fileName = new Path(r.getAs[String]("__file")).getName
        cols.filter(bitmapCols).map { c =>
          Json.BucketsLine(fileName, c,
            renderBitmap(r.getAs[Seq[Int]](s"__set_$c")))
        }
      })
  }

  /** Write `all` as the commit's sidecar `stats-<commitId>.jsonl` (a
    * commit-unique name: safe to overwrite on a rebase retry); None when
    * there is nothing to record. */
  private def statsFileFor(fs: FileSystem, root: Path, commitId: String,
                           all: SidecarStats): Option[String] =
    if (all.isEmpty) None
    else {
      val name = s"stats-$commitId.jsonl"
      Json.writeFile(fs, new Path(logDir(root), name),
        (all.cols.sortBy(l => (l.name, l.col)).map(Json.write) ++
          all.rows.sortBy(_.name).map(Json.write) ++
          all.sets.sortBy(l => (l.name, l.col)).map(Json.write)).mkString("", "\n", "\n"))
      Some(name)
    }

  private def readStatsLines(fs: FileSystem, root: Path,
                             name: String): SidecarStats = {
    val lines =
      try Json.readFile(fs, new Path(logDir(root), name)).split('\n').toSeq
        .filter(_.nonEmpty).map(Json.parse)
      catch { case _: java.io.FileNotFoundException =>
        return SidecarStats.empty } // conservative: prune nothing
    // one sidecar holds three line kinds; each is told by its own field
    def kind[A](field: String)(implicit mf: scala.reflect.Manifest[A]): Seq[A] =
      lines.filter(l => (l \ field) != JNothing).map(Json.extract[A](_))
    SidecarStats(kind[Json.StatsLine]("min"), kind[Json.RowsLine]("rows"),
      kind[Json.BucketsLine]("buckets"))
  }

  private def sidecarOf(fs: FileSystem, root: Path, m: Json.Manifest): SidecarStats =
    m.stats_file.fold(SidecarStats.empty)(readStatsLines(fs, root, _))

  private def sidecarAt(spark: SparkSession, location: String, v: Long): SidecarStats = {
    val root = new Path(location)
    val fs = fsFor(spark, root)
    sidecarOf(fs, root, manifestOf(fs, root, v))
  }

  /** Per-file stats of version `v`: file -> column -> stats. Empty map if
    * the version carries no stats (readers then prune nothing). */
  def fileStats(spark: SparkSession, location: String,
                v: Long): Map[String, Map[String, ColStats]] =
    sidecarAt(spark, location, v).zoneMaps.map { case (f, cs) =>
      (f, cs.map { case (c, l) =>
        (c, ColStats(Json.render(l.min), Json.render(l.max), l.nulls)) }) }

  /** Per-file row counts of version `v` (recorded when the commit ran
    * with statsColumns). Empty if the version carries no sidecar. */
  def fileRows(spark: SparkSession, location: String,
               v: Long): Map[String, Long] =
    sidecarAt(spark, location, v).rows.map(l => (l.name, l.rows)).toMap

  /** The columns the table's LATEST version tracks zone maps for —
    * what a maintenance rewrite (compact / cluster) must recompute so
    * its overwrite commit doesn't silently drop the pruning tier. */
  def trackedStatsColumns(spark: SparkSession, location: String): Seq[String] =
    versions(spark, location).lastOption.fold(Seq.empty[String])(v =>
      trackedColumns(sidecarAt(spark, location, v)))

  private def trackedColumns(sc: SidecarStats): Seq[String] =
    sc.cols.map(_.col).distinct.sorted

  /** The highest batch id `app` has committed (and its version), scanning
    * `vs` newest-first through `manifest`. The streaming exactly-once
    * check: a foreachBatch REPLAY (crash between sink commit and
    * checkpoint commit) re-offers a batch id the table already holds —
    * the commit must be skipped, not appended twice. */
  private def lastTxn(vs: Seq[Long], app: String,
                      manifest: Long => Json.Manifest): Option[(Long, Long)] =
    vs.sorted.reverseIterator.flatMap { v =>
      val m = manifest(v)
      if (m.txn_app.contains(app)) m.txn_batch.map((_, v)) else None
    }.nextOption()

  private def stageAndMove(fs: FileSystem, root: Path, df: DataFrame,
                           format: String, options: Map[String, String]): (String, Seq[Json.FileEntry]) = {
    val commitId = java.util.UUID.randomUUID().toString.take(8)
    val stage = new Path(root, s".stage-$commitId")
    df.write.format(format).options(graft.sources.Sources.mapOptions(options))
      .mode(SaveMode.Overwrite).save(stage.toString)
    val moved = fs.globStatus(new Path(stage, "part-*")).toSeq.map { st =>
      val name = s"$commitId-${st.getPath.getName}"
      val dst = new Path(dataDir(root), name)
      if (!fs.rename(st.getPath, dst))
        throw new java.io.IOException(s"versioned commit: move ${st.getPath} -> $dst failed")
      Json.FileEntry(name, st.getLen)
    }
    fs.delete(stage, true)
    (commitId, moved)
  }

  /** Atomically commit `df` as the next version. `mode` = "overwrite"
    * (the new version IS this frame) or "append" (new version = latest
    * version's files + this frame's). Returns the committed version.
    * `expectedLatest` turns the commit SERIALIZABLE: when set, the
    * commit succeeds only if the table's latest version still equals it
    * — a concurrent commit since the caller's snapshot aborts loudly
    * (the read-merge-write upsert shape needs this: a silent rebase
    * would overwrite the concurrent writer's rows with a stale merge). */
  def commit(spark: SparkSession, location: String, df: DataFrame,
             mode: String, format: String = "parquet",
             options: Map[String, String] = Map.empty,
             maxRetries: Int = 10,
             expectedLatest: Option[Long] = None,
             txn: Option[(String, Long)] = None,
             statsColumns: Seq[String] = Nil): Long = {
    require(mode == "overwrite" || mode == "append",
      s"versioned commit: mode must be overwrite|append, got '$mode'")
    val root = new Path(location)
    val fs = fsFor(spark, root)
    fs.mkdirs(dataDir(root))
    fs.mkdirs(logDir(root))
    // appends must match the table's schema: the snapshot read loads
    // an explicit file list, so a silently drifted schema would surface
    // only at read time (missing/extra columns depending on which file
    // the reader samples first; a changed type fails the read). The
    // recorded schema answers by name and type; a legacy manifest costs
    // one footer read and answers by name. Evolution is opt-in: commit
    // AND read with mergeSchema=true.
    val manifest = manifestReader(fs, root)
    val written = schemaOf(df)
    if (mode == "append" && !mergeSchemaOn(options)) {
      versions(spark, location).lastOption.foreach { lv =>
        val m = manifest(lv)
        if (m.files.nonEmpty) {
          val recorded = declared(schemaOf(m), format, options)
          val table = recorded.getOrElse(
            scan(spark, dataPaths(root, m.names.take(1)), None, format, options).schema)
          val changes = drift(table, written, types = recorded.nonEmpty)
          if (changes.nonEmpty) throw new graft.config.ConfigError(
            s"versioned commit: append schema drift at '$location' v$lv — $changes" +
              "pass mergeSchema=true in options (commit AND read) to evolve")
        }
      }
    }
    // exactly-once for streaming foreachBatch: if this (app, batch) — or
    // a later batch of the same app — is already committed, the offer is
    // a WAL replay: skip BEFORE any data is written, return the version
    // that already holds it
    txn.foreach { case (app, batch) =>
      lastTxn(versions(spark, location), app, manifest).foreach {
        case (lastBatch, atV) =>
          if (lastBatch >= batch) {
            graft.log.Log.info("versioned commit: txn replay skipped",
              "location" -> location, "app" -> app,
              "batch" -> batch.toString, "committed_at" -> s"v$atV")
            return atV
          }
      }
    }
    // stage, then move parts into the append-only data namespace under a
    // commit-unique prefix (invisible until a manifest references them)
    val (commitId, moved) = stageAndMove(fs, root, df, format, options)
    // zone maps: stats for the NEW files only — one scan of this
    // commit's data, never of the table
    val newStats: SidecarStats =
      if (statsColumns.isEmpty) SidecarStats.empty
      else computeStats(spark, dataPaths(root, moved.map(_.name)), written,
        statsColumns, format, options)
    var attempt = 0
    while (attempt < maxRetries) {
      val latest = versions(spark, location).lastOption
      expectedLatest.foreach { exp =>
        if (latest.getOrElse(0L) != exp) throw new java.util.ConcurrentModificationException(
          s"versioned commit: serializable conflict at '$location' — snapshot " +
            s"was v$exp, latest is v${latest.getOrElse(0L)}; re-read and re-merge")
      }
      // an append builds on the latest manifest — opened once per
      // attempt — and carries its file entries as recorded (data files
      // are never rewritten, so their sizes stand)
      val head = if (mode == "append") latest.map(manifest) else None
      val base = head.fold(Seq.empty[Json.FileEntry])(_.files)
      val v = latest.getOrElse(0L) + 1
      // an append carries the base files' stats forward by name, so one
      // sidecar per manifest covers every file it references; written
      // BEFORE the CAS (commit-unique name — losers leave a vacuumable
      // orphan, never a dangling reference)
      val baseStats = head.fold(SidecarStats.empty)(m =>
        sidecarOf(fs, root, m).filterFiles(m.names.toSet))
      val statsFile = statsFileFor(fs, root, commitId, baseStats ++ newStats)
      // an append keeps every base file, so the base deletion vector
      // stays valid verbatim — carry the sidecar BY NAME (zero rewrite);
      // an overwrite replaces the file set and clears it
      val dvCarry = head.flatMap(_.dv)
      // an overwrite or a first commit records the frame's schema
      val schema = head.fold(Option(written))(carriedSchema(_, written))
      if (writeManifestCas(fs, root, v, mode, base ++ moved, schema, txn, statsFile,
          dvCarry)) return v
      attempt += 1 // lost the race: re-read latest and rebase
    }
    throw new java.io.IOException(
      s"versioned commit: lost the version race $maxRetries times at '$location'")
  }

  /** Snapshot read: exactly the file list of `asOf` (default: latest).
    * The returned frame is pinned to that version — later commits never
    * change what it reads. */
  def read(spark: SparkSession, location: String,
           asOf: Option[Long] = None, format: String = "parquet",
           options: Map[String, String] = Map.empty): DataFrame = {
    val root = new Path(location)
    val fs = fsFor(spark, root)
    val vs = versions(spark, location)
    if (vs.isEmpty) throw new graft.config.ConfigError(
      s"versioned read: no committed versions at '$location'")
    val v = asOf.getOrElse(vs.last)
    if (!vs.contains(v)) throw new graft.config.ConfigError(
      s"versioned read: version $v not in committed set ${vs.mkString("[", ",", "]")}")
    val m = manifestOf(fs, root, v)
    if (m.files.isEmpty)
      throw new graft.config.ConfigError(
        s"versioned read: version $v of '$location' references no files")
    val base = scan(spark, dataPaths(root, m.names), schemaOf(m), format, options)
    m.dv_file.fold(base)(applyDv(spark, root, base, _))
  }

  /** FILE-LEVEL MERGE (upsert): arrivals replace table rows with equal
    * `keys`, new keys insert — and only the files whose zone maps can
    * contain an arrival key are read and REWRITTEN; every other file
    * carries into the new manifest BY REFERENCE, zero bytes moved. The
    * Delta/Iceberg MERGE shape: at 100 TB a day's upsert touching 0.1%
    * of the key space rewrites ~0.1% of the files, not the table.
    * Pruning is the [min(arrival key), max(arrival key)] range against
    * each file's `keys.head` zone map — conservative (missing stats →
    * file rewritten; sound for multi-key merges since it prunes on the
    * leading key only); an all-null-key file is never touched (equality
    * never matches NULL). SERIALIZABLE: a concurrent commit since the
    * snapshot aborts loudly — a silent rebase would resurrect rows the
    * concurrent writer replaced. Returns the committed version. */
  def merge(spark: SparkSession, location: String, arrivals: DataFrame,
            keys: Seq[String], format: String = "parquet",
            options: Map[String, String] = Map.empty,
            statsColumns: Seq[String] = Nil,
            // applied to the MERGED frame right before staging — the hook
            // sink-level Observations attach through (the arrivals frame
            // appears twice in the merge plan, so observing it upstream
            // would double the counts)
            publishTransform: DataFrame => DataFrame = identity,
            // a caller that computed `arrivals` against a pinned snapshot
            // passes that version here: a commit that landed since aborts
            // at entry (the read-to-publish window is guarded by the
            // single-attempt CAS regardless)
            expectedLatest: Option[Long] = None,
            // None / RowReplace = the classic upsert (arrivals replace
            // equal-key rows, new keys insert). Anything else runs the
            // ANSI-shaped conditional evaluator ([[MergeActions]]):
            // first-true action per row kind, DELETE/column-SET/insert
            // chains, with the file-carry contract preserved. WHEN NOT
            // MATCHED BY SOURCE reaches every unmatched target row, but
            // on parquet it routes through DELETION VECTORS (claimed
            // positions to the DV, update re-images appended, one
            // atomic commit) so the carried files survive by reference;
            // only non-parquet formats fall back to the whole-table
            // rewrite (no row positions to record)
            actions: MergeActions = MergeActions.RowReplace): Long = {
    import org.apache.spark.sql.functions.{col, min => fmin, max => fmax}
    require(keys.nonEmpty, "versioned merge: keys must be non-empty")
    val conditional = actions != MergeActions.RowReplace
    val root = new Path(location)
    val fs = fsFor(spark, root)
    val vs = versions(spark, location)
    expectedLatest.foreach { exp =>
      if (vs.lastOption.getOrElse(0L) != exp)
        throw new java.util.ConcurrentModificationException(
          s"versioned merge: serializable conflict at '$location' — snapshot " +
            s"was v$exp, latest is v${vs.lastOption.getOrElse(0L)}; re-read and re-merge")
    }
    if (vs.isEmpty && conditional) throw new graft.config.ConfigError(
      s"versioned merge: conditional MERGE actions need an existing versioned " +
        s"table at '$location' (the action semantics are defined against the " +
        "target schema) — seed it with a commit first")
    // a conditional merge consumes arrivals THREE times (cardinality
    // probe, key-bounds agg, evaluator join) — persist for the
    // duration so an expensive USING query runs once, released in the
    // finally below (the Caching no-leak discipline)
    if (conditional)
      arrivals.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK): Unit
    try {
    // BY SOURCE actions route through DELETION VECTORS on parquet:
    // claimed positions go to the DV, update re-images append, and the
    // zone-map file-carry contract survives — a retention merge READS
    // the table but rewrites nothing. Non-parquet formats have no row
    // positions, so they keep the whole-table rewrite.
    val bySourceViaDv = conditional && actions.bySource.nonEmpty &&
      format == "parquet"
    // The evaluator's full-outer join runs only when a MATCHED action
    // exists (or on the non-parquet BY SOURCE fallback) — and only that
    // join can duplicate a multi-matched target row. With no matched
    // action, a key-duplicated source is ANSI-legal: matched target
    // rows are simply untouched, and every not-matched source row
    // inserts with its multiplicity (r13 verdict #4a — the insert-only
    // over-rejection).
    val needsEvaluatorJoin = conditional && (actions.matched.nonEmpty ||
      (actions.bySource.nonEmpty && !bySourceViaDv))
    if (needsEvaluatorJoin) {
      // ANSI cardinality rule: a target row matching MORE than one
      // source row makes the conditional result order-dependent —
      // reject a key-duplicated source loudly (null-key source rows
      // never match anything and may repeat freely). Bounded: the
      // check aggregates to the first offending key only.
      val dup = arrivals
        .filter(keys.map(col(_).isNotNull).reduce(_ && _))
        .groupBy(keys.map(col): _*)
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("__n"))
        .filter(col("__n") > 1).limit(1).collect()
      if (dup.nonEmpty) throw new graft.config.ConfigError(
        s"versioned merge: the MERGE source has multiple rows for key " +
          s"(${keys.mkString(", ")}) = (${dup.head.toSeq.init.mkString(", ")}) — " +
          "conditional MERGE requires a key-unique source (ANSI cardinality " +
          "rule: a multi-match result would be order-dependent)")
    }
    if (vs.isEmpty)
      // expectedLatest = 0 keeps the bootstrap SERIALIZABLE: losing the
      // v1 race must abort loudly, not rebase over the winner's rows
      return commit(spark, location, publishTransform(arrivals), "overwrite",
        format, options, statsColumns = statsColumns,
        expectedLatest = Some(0L))
    val latest = vs.last
    val head = manifestOf(fs, root, latest)
    val files = head.names
    val sidecar = sidecarOf(fs, root, head)
    val stats = sidecar.zoneMaps
    val k0 = keys.head
    val bounds = arrivals.agg(fmin(col(k0)), fmax(col(k0))).head()
    val (lo, hi) = (canonValue(bounds.get(0)), canonValue(bounds.get(1)))
    def touchedBy(f: String): Boolean =
      if (lo == JNull) false // every arrival key NULL: equality never matches
      else stats.get(f).flatMap(_.get(k0)) match {
        case None => true // no zone map: must assume a match
        case Some(s) =>
          if (s.min == JNull && s.max == JNull) false // all-null-key file
          else (cmpValues(s.max, lo), cmpValues(s.min, hi)) match {
            case (Some(a), Some(b)) => a >= 0 && b <= 0 // ranges overlap
            case _ => true // kinds incomparable: conservative rewrite
          }
      }
    // the zone-hit files: the only files whose rows CAN match an
    // arrival key (pruning on the leading key; conservative)
    val touchedProbe = files.filter(touchedBy)
    // files REWRITTEN this commit. MATCHED actions change rows in
    // place, so the zone-hit files rewrite through the evaluator;
    // insert actions never touch existing files; BY SOURCE actions
    // reach every unmatched target row, but on parquet they route
    // through the deletion vector (below) instead of forcing the
    // whole-table rewrite the r13 verdict marked weak.
    val touched =
      if (!conditional) touchedProbe
      else if (actions.bySource.nonEmpty && !bySourceViaDv) files
      else if (actions.matched.nonEmpty) touchedProbe
      else Nil // insert/BY SOURCE only: nothing rewrites in place
    val untouched = files.filterNot(touched.toSet)
    val recorded = declared(schemaOf(head), format, options)
    // the target schema: the recorded one, or ONE footer read on a legacy
    // manifest — lazy so a path that never needs it never pays for it
    lazy val tableSchema: StructType = recorded.getOrElse {
      if (files.isEmpty) throw new graft.config.ConfigError(
        s"versioned merge: version $latest of '$location' references no data " +
          "files — conditional MERGE needs the target schema; seed the table " +
          "with a committed snapshot first")
      scan(spark, dataPaths(root, files.take(1)), None, format, options).schema
    }
    // the conditional evaluator projects to the TARGET schema (star
    // actions validate the source carries every target column below),
    // so the drift check applies to the row-replace path only
    if (conditional && actions.needsFullSourceRow) {
      val have = arrivals.columns.map(_.toLowerCase).toSet
      val missing = tableSchema.fieldNames.filterNot(c => have(c.toLowerCase))
      if (missing.nonEmpty) throw new graft.config.ConfigError(
        s"versioned merge: UPDATE SET * / INSERT * needs every target column " +
          s"in the source — missing: ${missing.mkString(", ")}")
      // strict star expansion (the Spark/Delta rule): a source column
      // absent from the target must error BY NAME, not silently drop in
      // the target-schema projection — MERGE does not evolve schemas
      val tset = tableSchema.fieldNames.map(_.toLowerCase).toSet
      val extra = arrivals.columns.filterNot(c => tset(c.toLowerCase))
      if (extra.nonEmpty) throw new graft.config.ConfigError(
        s"versioned merge: UPDATE SET * / INSERT * star expansion found " +
          s"source columns absent from the target: ${extra.mkString(", ")} — " +
          "drop them in the USING query, or assign explicitly with " +
          "UPDATE SET c = e / INSERT (c, ...) VALUES (e, ...) " +
          "(MERGE does not apply schema evolution)")
    }
    // when nothing is touched, the unionByName that would otherwise
    // catch a drifted arrival column set never runs — check it
    // explicitly, or v+1 would mix schemas across its files
    if (!conditional && touched.isEmpty && files.nonEmpty && !mergeSchemaOn(options)) {
      val changes = drift(tableSchema, schemaOf(arrivals), types = false)
      if (changes.nonEmpty) throw new graft.config.ConfigError(
        s"versioned merge: arrival schema drift at '$location' v$latest — $changes" +
          "pass mergeSchema=true in options (commit AND read) to evolve")
    }
    val latestDv = head.dv
    // live rows of the named files (a touched file's deleted rows must
    // not resurrect — the DV applies to the snapshot being merged).
    // The EVALUATOR reads the rewrite set (`touched` — which is ALL
    // files on the non-parquet BY SOURCE fallback, not just the
    // zone-hit probe set: loading the probe set there would drop every
    // zone-miss file's rows from the rewrite); the no-matched-action
    // anti-join reads the probe set alone.
    def liveOf(names: Seq[String]): DataFrame = {
      val base = scan(spark, dataPaths(root, names), recorded, format, options)
      latestDv.fold(base) { case (name, _) =>
        applyDv(spark, root, base, name) }
    }
    val merged =
      if (!conditional) {
        if (touched.isEmpty) arrivals
        else liveOf(touched).join(arrivals, keys, "left_anti")
          .unionByName(arrivals)
      } else if (actions.matched.nonEmpty ||
        (actions.bySource.nonEmpty && !bySourceViaDv)) {
        if (touched.isEmpty)
          // no target row can match: every arrival is not-matched, so
          // the insert chain applies directly (projected to the shared
          // lazily-read table schema)
          MergeActions.applyInsertOnly(arrivals, tableSchema, actions)
        else MergeActions(liveOf(touched), arrivals, keys, actions)
      } else {
        // no MATCHED actions: no existing row changes in place, so no
        // file rewrites — arrivals whose key matches a zone-hit LIVE
        // row are matched (no action applies; anti-join drops them
        // whatever their multiplicity), the rest run the insert chain
        val fresh =
          if (touchedProbe.isEmpty) arrivals
          else arrivals.join(liveOf(touchedProbe).select(keys.map(col): _*),
            keys, "left_anti")
        MergeActions.applyInsertOnly(fresh, tableSchema, actions)
      }
    // BY SOURCE via deletion vectors: evaluate the BY SOURCE chain over
    // the live rows of every CARRIED file — delete-claimed positions go
    // to the DV; update-claimed positions go to the DV with their
    // re-images staged alongside the merged output, so ONE atomic
    // commit covers both. The carried files are READ once, but bytes
    // written ∝ claimed rows — the Delta DV shape: a 100 TB retention
    // merge appends kilobytes instead of rewriting the table.
    // localCheckpoint pins the claimed set (cost ∝ claimed rows, the
    // rows the merge writes anyway) so the DV positions, the count,
    // and the re-images cannot disagree under a non-deterministic
    // condition (the deleteWhere/updateWhere discipline).
    val bySourceClaimed: Option[(DataFrame, Long)] =
      if (!bySourceViaDv || untouched.isEmpty) None
      else {
        val base = scan(spark, dataPaths(root, untouched), recorded, format, options)
        val live = livePositions(spark, root, base, latestDv.map(_._1))
        // zone-miss files cannot hold an arrival key, but carried
        // zone-HIT files (no matched actions) can — those matched rows
        // are NOT "not matched by source": anti-join the arrival keys
        // out first (a no-op for zone-miss rows, so one uniform join)
        val unmatchedLive =
          if (untouched.toSet.intersect(touchedProbe.toSet).isEmpty) live
          else live.join(arrivals.select(keys.map(col): _*).distinct(),
            keys, "left_anti")
        val claimed = MergeActions.claimBySource(unmatchedLive, tableSchema,
          arrivals.schema, actions, Seq("__dv_file", "__dv_pos"))
          .localCheckpoint()
        val n = claimed.count()
        if (n == 0L) None else Some((claimed, n))
      }
    val bySourceReimages: Option[DataFrame] = bySourceClaimed.flatMap {
      case (claimed, _) =>
        if (actions.bySource.exists(_.isInstanceOf[MergeActions.BySourceUpdate]))
          Some(MergeActions.bySourceImages(claimed, tableSchema, actions))
        else None
    }
    val publishFrame = publishTransform(
      bySourceReimages.fold(merged)(merged.unionByName(_)))
    val (commitId, moved) = stageAndMove(fs, root, publishFrame, format, options)
    val written = schemaOf(publishFrame)
    val newStats =
      if (statsColumns.isEmpty) SidecarStats.empty
      else computeStats(spark, dataPaths(root, moved.map(_.name)), written,
        statsColumns, format, options)
    val carriedNames = untouched.toSet
    val statsFile = statsFileFor(fs, root, commitId,
      sidecar.filterFiles(carriedNames) ++ newStats)
    val untouchedEntries = head.files.filter(f => carriedNames(f.name))
    // deletion vector: rewritten files materialized their deletes away;
    // entries for the CARRIED files stay live and move to a fresh
    // filtered sidecar, joined by the BY SOURCE claimed positions
    // (an exact dv_rows keeps metadata counts honest)
    val dvNext: Option[(String, Long)] = {
      val carriedDv: Option[(DataFrame, Long)] = latestDv.flatMap {
        case (name, _) =>
          val cdv = readDv(spark, root, name)
            .filter(col("file").isin(untouched: _*))
          val n = cdv.count()
          if (n == 0L) None else Some((cdv, n))
      }
      val added: Option[(DataFrame, Long)] = bySourceClaimed.map {
        case (claimed, n) =>
          (claimed.select(col("__dv_file").as("file"),
            col("__dv_pos").as("pos")), n)
      }
      val combined = (carriedDv, added) match {
        case (Some((a, na)), Some((b, nb))) => Some((a.unionByName(b), na + nb))
        case (a, b) => a.orElse(b)
      }
      combined.map { case (dvDf, n) =>
        val dvName = s"dv-$commitId"
        dvDf.write.mode(SaveMode.Overwrite)
          .parquet(new Path(logDir(root), dvName).toString)
        (dvName, n)
      }
    }
    // serializable: exactly one CAS attempt at latest+1 — losing means a
    // concurrent commit landed since our snapshot, and our merged frame
    // is stale (it would silently drop that writer's rows)
    if (!writeManifestCas(fs, root, latest + 1, "merge", untouchedEntries ++ moved,
      carriedSchema(head, written), None, statsFile, dvNext))
      throw new java.util.ConcurrentModificationException(
        s"versioned merge: serializable conflict at '$location' — snapshot " +
          s"was v$latest; a concurrent commit won v${latest + 1}; re-read and re-merge")
    graft.log.Log.info("versioned merge",
      "location" -> location, "version" -> s"v${latest + 1}",
      "files_rewritten" -> touched.size.toString,
      "files_carried" -> untouched.size.toString,
      "by_source_dv_rows" -> bySourceClaimed.map(_._2).getOrElse(0L).toString)
    latest + 1
    } finally {
      if (conditional) arrivals.unpersist(blocking = false): Unit
    }
  }

  /** Row-level DELETE via DELETION VECTORS — the Iceberg v2 / Delta DV
    * shape: matching rows are recorded as (file, row-position) pairs in
    * a parquet sidecar the manifest references; NO data file is
    * rewritten or moved. [[merge]] rewrites whole files to change rows;
    * a delete touching 0.001% of a 100 TB table moves kilobytes of
    * metadata instead. Readers ([[read]]/[[readPruned]]) anti-join the
    * DV (broadcast-sized until a compaction materializes it away);
    * [[compact]]/cluster maintenance reads through the DV, so their
    * overwrite commit purges it naturally.
    *
    * Semantics: deletes rows of the LATEST snapshot matching `condition`
    * (a SQL boolean expression over the table's columns). Accumulates
    * with prior DVs; a no-match delete returns the current version
    * without committing. SERIALIZABLE single-attempt CAS (the merge
    * discipline): losing the race aborts loudly. Zone maps stay valid
    * as over-approximations; metadata row counts subtract `dv_rows`
    * ([[history]]). CDC ([[changesBetween]]) aborts crossing a delete
    * commit, the same contract as overwrites. Parquet-only: positions
    * come from `_metadata.row_index`. */
  def deleteWhere(spark: SparkSession, location: String, condition: String,
                  format: String = "parquet",
                  options: Map[String, String] = Map.empty,
                  expectedLatest: Option[Long] = None): Long = {
    import org.apache.spark.sql.functions._
    require(format == "parquet",
      "versioned delete: deletion vectors need parquet row positions")
    val root = new Path(location)
    val fs = fsFor(spark, root)
    val vs = versions(spark, location)
    if (vs.isEmpty) throw new graft.config.ConfigError(
      s"versioned delete: no committed versions at '$location'")
    val latest = vs.last
    expectedLatest.foreach { exp =>
      if (latest != exp) throw new java.util.ConcurrentModificationException(
        s"versioned delete: serializable conflict at '$location' — snapshot " +
          s"was v$exp, latest is v$latest; re-read and re-delete")
    }
    val head = manifestOf(fs, root, latest)
    val dvPrev = head.dv
    val base = scan(spark, dataPaths(root, head.names), schemaOf(head), format, options)
    // only LIVE rows can match (a row deleted twice would double-count)
    val live = livePositions(spark, root, base, dvPrev.map(_._1))
    // PINNED once (localCheckpoint, eager): the matched set feeds both
    // the count and the DV write — re-evaluating the plan per consumer
    // would let a nondeterministic condition (rand(), now()) produce a
    // DV that disagrees with what the count reported. Cost ∝ matched
    // (file,pos) pairs, i.e. the delete size itself.
    val matches = live.filter(expr(condition))
      .select(col("__dv_file").as("file"), col("__dv_pos").as("pos"))
      .localCheckpoint()
    val nMatched = matches.count()
    if (nMatched == 0L) {
      graft.log.Log.info("versioned delete: no matching rows",
        "location" -> location, "version" -> s"v$latest")
      return latest
    }
    val commitId = java.util.UUID.randomUUID().toString.take(8)
    val dvName = s"dv-$commitId"
    val newDv = dvPrev.fold(matches) { case (name, _) =>
      readDv(spark, root, name).unionByName(matches) }
    newDv.write.mode(SaveMode.Overwrite)
      .parquet(new Path(logDir(root), dvName).toString)
    val dvRows = dvPrev.fold(0L)(_._2) + nMatched
    if (!writeManifestCas(fs, root, latest + 1, "delete", head.files, schemaOf(head),
      None, head.stats_file, Some((dvName, dvRows))))
      throw new java.util.ConcurrentModificationException(
        s"versioned delete: serializable conflict at '$location' — snapshot " +
          s"was v$latest; a concurrent commit won v${latest + 1}; re-delete")
    graft.log.Log.info("versioned delete",
      "location" -> location, "version" -> s"v${latest + 1}",
      "rows_deleted" -> nMatched.toString, "files_rewritten" -> "0")
    latest + 1
  }

  /** Row-level UPDATE via deletion vectors: matching LIVE rows get their
    * old positions added to the DV and their updated images appended as
    * new files — ONE atomic commit covers both, so readers see either
    * the old rows or the new, never neither/both. The Delta/Iceberg
    * UPDATE shape without rewriting the touched files: cost ∝ matched
    * rows, not ∝ the files containing them. `set` maps column name →
    * SQL expression over the row's (pre-update) columns. Same
    * serializable single-attempt CAS and CDC/delete contracts as
    * [[deleteWhere]]. Returns the committed version (unchanged when
    * nothing matches). */
  def updateWhere(spark: SparkSession, location: String, condition: String,
                  set: Map[String, String],
                  format: String = "parquet",
                  options: Map[String, String] = Map.empty,
                  expectedLatest: Option[Long] = None): Long = {
    import org.apache.spark.sql.functions._
    require(format == "parquet",
      "versioned update: deletion vectors need parquet row positions")
    require(set.nonEmpty, "versioned update: set must be non-empty")
    val root = new Path(location)
    val fs = fsFor(spark, root)
    val vs = versions(spark, location)
    if (vs.isEmpty) throw new graft.config.ConfigError(
      s"versioned update: no committed versions at '$location'")
    val latest = vs.last
    expectedLatest.foreach { exp =>
      if (latest != exp) throw new java.util.ConcurrentModificationException(
        s"versioned update: serializable conflict at '$location' — snapshot " +
          s"was v$exp, latest is v$latest; re-read and re-update")
    }
    val head = manifestOf(fs, root, latest)
    val dvPrev = head.dv
    val base = scan(spark, dataPaths(root, head.names), schemaOf(head), format, options)
    val live = livePositions(spark, root, base, dvPrev.map(_._1))
    val dataCols = base.columns.filterNot(Set("__dv_file", "__dv_pos")).toSeq
    set.keys.foreach { c =>
      require(dataCols.contains(c),
        s"versioned update: set column '$c' not in the table (has: ${dataCols.mkString(", ")})")
    }
    // PINNED once (localCheckpoint, eager): THREE consumers derive from
    // the matched set — the count, the updated images, and the DV
    // positions. Without pinning, a nondeterministic condition would
    // evaluate independently per consumer and the DV could disagree
    // with the appended images inside one "atomic" commit (silently
    // losing or duplicating rows). Cost ∝ matched rows — the same rows
    // the update appends anyway.
    val matched = live.filter(expr(condition)).localCheckpoint()
    val nMatched = matched.count()
    if (nMatched == 0L) {
      graft.log.Log.info("versioned update: no matching rows",
        "location" -> location, "version" -> s"v$latest")
      return latest
    }
    // the updated images: SET expressions evaluate against the OLD row,
    // and keep the column's metadata so the new files match the old
    val updated = matched.select(dataCols.map { c =>
      set.get(c).map(e => expr(e).as(c, base.schema(c).metadata)).getOrElse(col(c))
    }: _*)
    // TYPE-PRESERVING contract: a SET expression that silently changes
    // the column's type would publish mixed-schema files the snapshot
    // read then fails on (INT literal vs BIGINT column is the classic)
    // — reject loudly, requiring an explicit CAST in the expression
    dataCols.foreach { c =>
      val oldT = base.schema(c).dataType
      val newT = updated.schema(c).dataType
      if (oldT != newT) throw new graft.config.ConfigError(
        s"versioned update: SET would change column '$c' from $oldT to $newT — " +
          s"add an explicit CAST(... AS ${oldT.sql}) to the expression")
    }
    val (commitId, moved) = stageAndMove(fs, root, updated, format, options)
    // old positions join the DV
    val dvName = s"dv-$commitId"
    val oldPositions = matched
      .select(col("__dv_file").as("file"), col("__dv_pos").as("pos"))
    val newDv = dvPrev.fold(oldPositions) { case (name, _) =>
      readDv(spark, root, name).unionByName(oldPositions) }
    newDv.write.mode(SaveMode.Overwrite)
      .parquet(new Path(logDir(root), dvName).toString)
    val dvRows = dvPrev.fold(0L)(_._2) + nMatched
    // stats: carried by name (still sound over-approximations for the
    // old files); the NEW files get fresh stats for the tracked columns
    val carried = sidecarOf(fs, root, head)
    val tracked = trackedColumns(carried)
    val written = schemaOf(updated)
    val fresh =
      if (tracked.isEmpty) SidecarStats.empty
      else computeStats(spark, dataPaths(root, moved.map(_.name)), written,
        tracked, format, options)
    val statsFile = statsFileFor(fs, root, commitId, carried ++ fresh)
    if (!writeManifestCas(fs, root, latest + 1, "update", head.files ++ moved,
      carriedSchema(head, written), None, statsFile, Some((dvName, dvRows))))
      throw new java.util.ConcurrentModificationException(
        s"versioned update: serializable conflict at '$location' — snapshot " +
          s"was v$latest; a concurrent commit won v${latest + 1}; re-update")
    graft.log.Log.info("versioned update",
      "location" -> location, "version" -> s"v${latest + 1}",
      "rows_updated" -> nMatched.toString, "files_rewritten" -> "0")
    latest + 1
  }

  /** ROW-LEVEL DIFF of two snapshots — the CDC fallback for the commits
    * [[changesBetween]] rightly aborts on (overwrite / merge / delete /
    * update): bag-semantics EXCEPT in both directions, tagged
    * `_change_type` ∈ {insert, delete}. An unchanged row (same
    * multiplicity both sides) appears in neither. This is a
    * two-snapshot scan by design — the price of row-level change
    * capture over commits that rewrote rows; append-only ranges should
    * keep using changesBetween (file-level metadata, no scan). */
  def diffVersions(spark: SparkSession, location: String,
                   fromVersion: Long, toVersion: Long,
                   format: String = "parquet",
                   options: Map[String, String] = Map.empty): DataFrame = {
    import org.apache.spark.sql.functions.lit
    require(fromVersion != toVersion,
      s"versioned diff: fromVersion and toVersion must differ, got $fromVersion")
    val a = read(spark, location, Some(fromVersion), format, options)
    val b = read(spark, location, Some(toVersion), format, options)
    b.exceptAll(a).withColumn("_change_type", lit("insert"))
      .unionByName(a.exceptAll(b).withColumn("_change_type", lit("delete")))
  }

  /** TARGETED delete compaction — the Iceberg
    * rewrite_position_delete_files analog: rewrite ONLY the files whose
    * deleted fraction reaches `minDeletedFraction`, materializing their
    * deletes away; every other file (and its DV entries) carries by
    * reference. Bounds the read-side anti-join cost without paying a
    * full-table compaction: at 100 TB a hot-spot delete pattern leaves
    * most files untouched forever. Per-file row counts come from the
    * stats sidecar when present; files the sidecar does not cover are
    * counted with one bounded scan over the DV-TOUCHED files only.
    * Serializable single-attempt CAS (mode `compact_deletes`). Returns
    * (version, filesRewritten) — (latest, 0) when nothing qualifies. */
  def compactDeletes(spark: SparkSession, location: String,
                     minDeletedFraction: Double = 0.3,
                     format: String = "parquet",
                     options: Map[String, String] = Map.empty): (Long, Int) = {
    import org.apache.spark.sql.functions._
    require(minDeletedFraction > 0 && minDeletedFraction <= 1,
      s"compactDeletes: minDeletedFraction must be in (0,1], got $minDeletedFraction")
    val root = new Path(location)
    val fs = fsFor(spark, root)
    val vs = versions(spark, location)
    if (vs.isEmpty) throw new graft.config.ConfigError(
      s"versioned compactDeletes: no committed versions at '$location'")
    val latest = vs.last
    val head = manifestOf(fs, root, latest)
    val dvPrev = head.dv match {
      case None => return (latest, 0)
      case Some(x) => x
    }
    val files = head.names
    val sidecar = sidecarOf(fs, root, head)
    // deleted counts per file — the DV is delete-sized
    val delCounts = readDv(spark, root, dvPrev._1)
      .groupBy(col("file")).agg(count(lit(1)).as("n_del"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val knownRows = sidecar.rows.map(l => (l.name, l.rows)).toMap
    val uncounted = delCounts.keySet.filter(f =>
      files.contains(f) && !knownRows.contains(f)).toSeq
    val countedRows: Map[String, Long] =
      if (uncounted.isEmpty) Map.empty
      else scan(spark, dataPaths(root, uncounted), schemaOf(head), format, options)
        .groupBy(element_at(split(col("_metadata.file_path"), "/"), -1).as("f"))
        .agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val rowsOf = knownRows ++ countedRows
    val rewrite = files.filter { f =>
      delCounts.get(f).exists { nd =>
        rowsOf.get(f).exists(n => n > 0 && nd.toDouble / n >= minDeletedFraction)
      }
    }
    if (rewrite.isEmpty) return (latest, 0)
    val carried = files.filterNot(rewrite.toSet)
    val liveBase = scan(spark, dataPaths(root, rewrite), schemaOf(head), format, options)
    val live = applyDv(spark, root, liveBase, dvPrev._1)
    val (commitId, moved) = stageAndMove(fs, root, live, format, options)
    // DV: drop entries for the rewritten files, keep the rest
    val remaining = readDv(spark, root, dvPrev._1)
      .filter(!col("file").isin(rewrite: _*))
    val nRemain = remaining.count()
    val dvNext =
      if (nRemain == 0L) None
      else {
        val name = s"dv-$commitId"
        remaining.write.mode(SaveMode.Overwrite)
          .parquet(new Path(logDir(root), name).toString)
        Some((name, nRemain))
      }
    // stats: carry for untouched files; fresh for the rewritten output
    val tracked = trackedColumns(sidecar)
    val written = schemaOf(live)
    val fresh =
      if (tracked.isEmpty) SidecarStats.empty
      else computeStats(spark, dataPaths(root, moved.map(_.name)), written,
        tracked, format, options)
    val carriedNames = carried.toSet
    val statsFile = statsFileFor(fs, root, commitId,
      sidecar.filterFiles(carriedNames) ++ fresh)
    if (!writeManifestCas(fs, root, latest + 1, "compact_deletes",
      head.files.filter(f => carriedNames(f.name)) ++ moved, carriedSchema(head, written),
      None, statsFile, dvNext))
      throw new java.util.ConcurrentModificationException(
        s"versioned compactDeletes: serializable conflict at '$location' — " +
          s"a concurrent commit won v${latest + 1}; re-run")
    graft.log.Log.info("versioned delete compaction",
      "location" -> location, "version" -> s"v${latest + 1}",
      "files_rewritten" -> rewrite.size.toString,
      "files_carried" -> carried.size.toString,
      "dv_remaining" -> nRemain.toString)
    (latest + 1, rewrite.size)
  }

  // ---------------------------------------------------------------- branches

  /** ZERO-COPY BRANCH (the Iceberg-refs / WAP shape): fork a named
    * lineage at a main version — no data moves, the branch's first
    * manifest copies the base's file references BY NAME into
    * `vNNNNN@branch.json` in the same log. [[branchCommit]]s then stage
    * into the shared `data/` namespace invisible to main readers; the
    * write-audit-publish flow is createBranch → branchCommit(s) → audit
    * the branch read → [[publishBranch]] (serializable fast-forward) or
    * [[dropBranch]]. Returns the fork version. */
  def createBranch(spark: SparkSession, location: String, branch: String,
                   fromVersion: Option[Long] = None): Long = {
    require(BranchName.pattern.matcher(branch).matches(),
      s"versioned branch: invalid branch name '$branch' (want ${BranchName.regex})")
    val root = new Path(location)
    val fs = fsFor(spark, root)
    val vs = versions(spark, location)
    if (vs.isEmpty) throw new graft.config.ConfigError(
      s"versioned branch: no committed versions at '$location'")
    val base = fromVersion.getOrElse(vs.last)
    if (!vs.contains(base)) throw new graft.config.ConfigError(
      s"versioned branch: version $base not in committed set ${vs.mkString("[", ",", "]")}")
    if (branchVersions(spark, location, branch).nonEmpty)
      throw new graft.config.ConfigError(
        s"versioned branch: branch '$branch' already exists at '$location'")
    // the fork manifest: the base's with mode `branch` — file, stats
    // and DV references copied by name, zero bytes moved
    val p = branchManifestPath(root, base, branch)
    val tmp = new Path(logDir(root), s".tmp-branch-$branch-${java.util.UUID.randomUUID().toString.take(8)}")
    Json.writeFile(fs, tmp, Json.write(manifestOf(fs, root, base).copy(mode = "branch")))
    try {
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(root.toUri, fs.getConf)
      fc.rename(tmp, p, org.apache.hadoop.fs.Options.Rename.NONE)
    } catch {
      case e @ (_: org.apache.hadoop.fs.FileAlreadyExistsException | _: java.io.IOException) =>
        fs.delete(tmp, false)
        throw new java.util.ConcurrentModificationException(
          s"versioned branch: branch '$branch' creation raced at '$location': ${e.getMessage}")
    }
    graft.log.Log.info("versioned branch created",
      "location" -> location, "branch" -> branch, "base" -> s"v$base")
    base
  }

  /** Append/overwrite commit ON A BRANCH — the WAP staging write. Same
    * stage-then-CAS protocol as [[commit]]; the data files land in the
    * shared append-only namespace but are referenced only by branch
    * manifests, so main readers never see them. Zone maps / DV sidecars
    * of the base carry by name on appends (new files get no fresh
    * stats — the branch is a staging area; publish-side maintenance
    * recomputes if needed). Returns the branch version. */
  def branchCommit(spark: SparkSession, location: String, branch: String,
                   df: DataFrame, mode: String,
                   format: String = "parquet",
                   options: Map[String, String] = Map.empty,
                   maxRetries: Int = 10,
                   txn: Option[(String, Long)] = None): Long = {
    require(mode == "overwrite" || mode == "append",
      s"versioned branch commit: mode must be overwrite|append, got '$mode'")
    val root = new Path(location)
    val fs = fsFor(spark, root)
    if (branchVersions(spark, location, branch).isEmpty)
      throw new graft.config.ConfigError(
        s"versioned branch commit: branch '$branch' does not exist at '$location'")
    // exactly-once for streaming foreachBatch INTO a branch: a replayed
    // (app, batch) — or any later batch of the same app — is skipped
    // before any data is staged (the [[commit]] txn contract)
    def manifest(v: Long) = manifestAt(fs, branchManifestPath(root, v, branch))
    txn.foreach { case (app, batch) =>
      lastTxn(branchVersions(spark, location, branch), app, manifest).foreach {
        case (lastBatch, atV) =>
          if (lastBatch >= batch) {
            graft.log.Log.info("versioned branch commit: txn replay skipped",
              "location" -> location, "branch" -> branch,
              "batch" -> batch.toString, "committed_at" -> s"v$atV")
            return atV
          }
      }
    }
    val (commitId, moved) = stageAndMove(fs, root, df, format, options)
    val written = schemaOf(df)
    var attempt = 0
    while (attempt < maxRetries) {
      val head = branchVersions(spark, location, branch).last
      // an append carries the head's files, stats and DV by name
      val carry = if (mode == "append") Some(manifest(head)) else None
      if (writeManifestCas(fs, root, head + 1, mode,
        carry.fold(Seq.empty[Json.FileEntry])(_.files) ++ moved,
        carry.fold(Option(written))(carriedSchema(_, written)), txn,
        carry.flatMap(_.stats_file), carry.flatMap(_.dv), Some(branch))) {
        graft.log.Log.info("versioned branch commit",
          "location" -> location, "branch" -> branch, "version" -> s"v${head + 1}")
        return head + 1
      }
      attempt += 1
    }
    throw new java.io.IOException(
      s"versioned branch commit: lost the version race $maxRetries times " +
        s"on branch '$branch' at '$location'")
  }

  /** Snapshot read of a branch head (or `asOf` a branch version). */
  def readBranch(spark: SparkSession, location: String, branch: String,
                 asOf: Option[Long] = None, format: String = "parquet",
                 options: Map[String, String] = Map.empty): DataFrame = {
    val root = new Path(location)
    val fs = fsFor(spark, root)
    val bvs = branchVersions(spark, location, branch)
    if (bvs.isEmpty) throw new graft.config.ConfigError(
      s"versioned branch read: branch '$branch' does not exist at '$location'")
    val v = asOf.getOrElse(bvs.last)
    if (!bvs.contains(v)) throw new graft.config.ConfigError(
      s"versioned branch read: version $v not on branch '$branch' ${bvs.mkString("[", ",", "]")}")
    val m = manifestAt(fs, branchManifestPath(root, v, branch))
    if (m.files.isEmpty) throw new graft.config.ConfigError(
      s"versioned branch read: v$v@$branch of '$location' references no files")
    val base = scan(spark, dataPaths(root, m.names), schemaOf(m), format, options)
    m.dv_file.fold(base)(applyDv(spark, root, base, _))
  }

  /** PUBLISH a branch to main — the WAP promote: the branch head's file
    * list (with its stats/DV references) becomes the next MAIN version,
    * SERIALIZABLE against the fork point: if main moved since the
    * branch forked, the publish aborts loudly (the branch staged
    * against a snapshot main no longer has; re-fork and re-stage).
    * Branch manifests stay for lineage until [[dropBranch]]. Returns
    * the published main version. */
  def publishBranch(spark: SparkSession, location: String,
                    branch: String): Long = {
    val root = new Path(location)
    val fs = fsFor(spark, root)
    val bvs = branchVersions(spark, location, branch)
    if (bvs.isEmpty) throw new graft.config.ConfigError(
      s"versioned publish: branch '$branch' does not exist at '$location'")
    val forkBase = bvs.head
    val mainLatest = versions(spark, location).last
    if (mainLatest != forkBase)
      throw new java.util.ConcurrentModificationException(
        s"versioned publish: serializable conflict at '$location' — branch " +
          s"'$branch' forked at v$forkBase but main is at v$mainLatest; " +
          "rebaseBranch (append-only staging) or re-fork and re-stage")
    val head = manifestAt(fs, branchManifestPath(root, bvs.last, branch))
    if (!writeManifestCas(fs, root, forkBase + 1, "publish", head.files, schemaOf(head),
      None, head.stats_file, head.dv))
      throw new java.util.ConcurrentModificationException(
        s"versioned publish: serializable conflict at '$location' — a " +
          s"concurrent commit won v${forkBase + 1}; re-fork and re-stage")
    graft.log.Log.info("versioned branch published",
      "location" -> location, "branch" -> branch,
      "version" -> s"v${forkBase + 1}")
    forkBase + 1
  }

  /** REBASE an append-only branch onto the moved main head — the retry
    * path [[publishBranch]]'s serializable conflict points at, without
    * re-staging any data: the branch's STAGED files (those its head
    * references beyond its fork manifest) are re-attached to the new
    * main head in a fresh branch lineage. Sound only when every branch
    * commit was an append (an overwrite dropped base files, and
    * re-attaching its survivors to a different base would silently
    * resurrect or lose rows — rejected by name). Returns the new fork
    * version. Single-writer maintenance op: a writer racing the branch
    * during its rebase loses manifests by design (the branch is being
    * rewritten). */
  def rebaseBranch(spark: SparkSession, location: String,
                   branch: String): Long = {
    val root = new Path(location)
    val fs = fsFor(spark, root)
    val bvs = branchVersions(spark, location, branch)
    if (bvs.isEmpty) throw new graft.config.ConfigError(
      s"versioned rebase: branch '$branch' does not exist at '$location'")
    val lineage = bvs.map(v => manifestAt(fs, branchManifestPath(root, v, branch)))
    val nonAppend = lineage.drop(1).map(_.mode).filterNot(_ == "append")
    if (nonAppend.nonEmpty) throw new graft.config.ConfigError(
      s"versioned rebase: branch '$branch' has non-append commits " +
        s"(${nonAppend.mkString(", ")}) — a rebase would change their " +
        "semantics; drop the branch and re-stage against the new head")
    val forkFiles = lineage.head.names.toSet
    val staged = lineage.last.files.filterNot(f => forkFiles(f.name))
    val mainLatest = versions(spark, location).last
    if (mainLatest == bvs.head)
      return bvs.head // nothing to rebase onto
    // carry the NEW main head's stats/DV (they cover its files; the
    // staged files simply have no stats — conservative)
    val mainHead = manifestOf(fs, root, mainLatest)
    // rewrite the branch lineage CRASH-SAFELY: the complete new lineage
    // (fork + append) is written under a TEMP branch name first, so the
    // staged data files are referenced by at least one full lineage at
    // every instant — a crash anywhere leaves them vacuum-proof. The
    // old delete-first order had a window where the branch held zero
    // manifests and the staged files were eligible for reclamation.
    // Temp names can't collide with old manifests even when the new
    // main head's version number overlaps the old staged range.
    val uuid = java.util.UUID.randomUUID().toString.take(8)
    val tmpBranch = s"$branch.rebase-$uuid"
    writeRawManifest(fs, root, branchManifestPath(root, mainLatest, tmpBranch),
      Json.write(mainHead.copy(mode = "branch")))
    // the staged files have the branch head's schema
    val schema = schemaOf(lineage.last).flatMap(carriedSchema(mainHead, _))
    if (!writeManifestCas(fs, root, mainLatest + 1, "append", mainHead.files ++ staged,
      schema, None, mainHead.stats_file, mainHead.dv, Some(tmpBranch)))
      throw new java.util.ConcurrentModificationException(
        s"versioned rebase: branch '$branch' raced at '$location'")
    // COMMIT MARKER: from this instant the rebase is DECIDED — a crash
    // anywhere below is finished by the next branch read
    // ([[recoverRebase]] adopts the recorded lineage). Without the
    // marker a crash leaves the old branch intact and the temp lineage
    // is expired as debris. Published via the coordinator (never torn);
    // the uuid-unique name means the CAS always wins.
    val marker = rebaseMarkerPath(root, branch, uuid)
    writeRawManifest(fs, root, marker,
      Json.write(Json.RebaseMarker(branch, tmpBranch, Seq(mainLatest, mainLatest + 1))))
    bvs.foreach(v => fs.delete(branchManifestPath(root, v, branch), false))
    // publish the new lineage under the real name THROUGH the
    // coordinator (r11 ADVICE: the direct FileContext.rename here made
    // rebase the one non-atomic publish on a lockfile deployment) —
    // fork first so the branch reappears base-first. A CAS loss against
    // IDENTICAL content means a concurrent recovery already adopted
    // this very manifest (benign); anything else is a real race.
    // The marker above makes the rebase DECIDED, so a concurrent
    // branch READ may run [[recoverRebase]] and finish it UNDER us —
    // deleting the tmp manifest after publishing the real-name twin
    // (r12 ADVICE): a vanished tmp here therefore means HELPED, not
    // raced — mirror recovery's own idempotence rule and adopt the
    // published twin (bounded wait across recovery's transient
    // delete-dst-then-republish window) instead of throwing on a
    // rebase that completed consistently.
    Seq(mainLatest, mainLatest + 1).foreach { v =>
      val tmpPath = branchManifestPath(root, v, tmpBranch)
      val dst = branchManifestPath(root, v, branch)
      val tmpText =
        try Some(Json.readFile(fs, tmpPath))
        catch { case _: java.io.FileNotFoundException => None }
      tmpText match {
        case Some(text) =>
          if (!coordinatorImpl.publish(fs, logDir(root), dst,
                text.getBytes(java.nio.charset.StandardCharsets.UTF_8)) &&
              Json.readFile(fs, dst) != text)
            throw new java.util.ConcurrentModificationException(
              s"versioned rebase: branch '$branch' manifest v$v raced at '$location'")
          fs.delete(tmpPath, false)
        case None =>
          // only recovery deletes a tmp manifest, and only after
          // publishing the twin — confirm it landed (it may be mid
          // delete-dst-then-republish for a moment)
          val deadline = System.nanoTime() + 5000000000L // 5 s
          var published = fs.exists(dst)
          while (!published && System.nanoTime() < deadline) {
            Thread.sleep(50)
            published = fs.exists(dst)
          }
          if (!published) throw new java.util.ConcurrentModificationException(
            s"versioned rebase: branch '$branch' tmp manifest v$v vanished " +
              s"at '$location' without a recovered real-name twin")
      }
    }
    fs.delete(marker, false)
    graft.log.Log.info("versioned branch rebased",
      "location" -> location, "branch" -> branch,
      "new_base" -> s"v$mainLatest", "staged_files" -> staged.size.toString)
    mainLatest
  }

  /** Delete a branch's manifests. Its unpublished data files become
    * unreferenced and are reclaimed by [[vacuumVersions]]. */
  def dropBranch(spark: SparkSession, location: String, branch: String): Unit = {
    val root = new Path(location)
    val fs = fsFor(spark, root)
    branchVersions(spark, location, branch).foreach { v =>
      fs.delete(branchManifestPath(root, v, branch), false)
    }
    graft.log.Log.info("versioned branch dropped",
      "location" -> location, "branch" -> branch)
  }

  /** Names of live branches at the location. */
  def branches(spark: SparkSession, location: String): Seq[String] = {
    val root = new Path(location)
    val fs = fsFor(spark, root)
    if (!fs.exists(logDir(root))) Seq.empty
    else fs.listStatus(logDir(root)).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.contains("@") && n.endsWith(".json") =>
        n.substring(n.indexOf('@') + 1).stripSuffix(".json") }
      .distinct.sorted
  }

  /** A zone-map-pruned snapshot scan: `df` reads ONLY the kept files. */
  final case class PrunedScan(df: DataFrame, totalFiles: Int, keptFiles: Int)

  /** Pruning predicate against a stats column. `op` ∈ {=, <, <=, >, >=};
    * `value` is canonicalized by the SAME rule as the stored stats
    * ([[canonToken]]) — pass the natural JVM type (Long, String,
    * java.sql.Date/Timestamp, ...). */
  final case class Prune(column: String, op: String, value: Any) {
    require(Set("=", "<", "<=", ">", ">=").contains(op),
      s"prune: op must be one of = < <= > >=, got '$op'")
  }

  /** Snapshot read that PLANS FROM THE ZONE MAPS: a file is skipped when
    * its recorded [min,max] proves no row can satisfy ALL `predicates`
    * (conjunction). Conservative everywhere stats are absent or not
    * comparable — the scan is always a superset of the matching rows,
    * so callers apply the real filter on the result exactly as they
    * would after parquet row-group pruning. An all-null file is skipped
    * for every op (no comparison predicate matches NULL).
    *
    * At 100 TB this is the first pruning tier: one small JSONL decides
    * which of a million files to open, before any parquet footer is
    * touched; the footers' row-group stats then prune WITHIN kept files
    * (the sink's sort_by/range_partition_keys make both tiers sharp). */
  def readPruned(spark: SparkSession, location: String,
                 predicates: Seq[Prune],
                 asOf: Option[Long] = None, format: String = "parquet",
                 options: Map[String, String] = Map.empty): PrunedScan = {
    val root = new Path(location)
    val fs = fsFor(spark, root)
    val vs = versions(spark, location)
    if (vs.isEmpty) throw new graft.config.ConfigError(
      s"versioned read: no committed versions at '$location'")
    val v = asOf.getOrElse(vs.last)
    if (!vs.contains(v)) throw new graft.config.ConfigError(
      s"versioned read: version $v not in committed set ${vs.mkString("[", ",", "]")}")
    val m = manifestOf(fs, root, v)
    val files = m.names
    val sidecar = sidecarOf(fs, root, m)
    val stats = sidecar.zoneMaps
    val sets = sidecar.sets.groupBy(_.name).map { case (f, xs) =>
      (f, xs.map(l => (l.col, l.buckets)).toMap) }
    // the bucket-bitmap tier applies to `=` probes whose toString equals
    // Spark's cast-to-string of the column (integral and string kinds)
    def bitmapCanonical(v: Any): Option[String] = v match {
      case _: Byte | _: Short | _: Int | _: Long => Some(v.toString)
      case s: String => Some(s)
      case _ => None
    }
    val preds = predicates.map(p => (p.column, p.op, canonValue(p.value),
      if (p.op == "=") bitmapCanonical(p.value).map(bitmapBucket) else None))
    def mayMatch(f: String): Boolean = preds.forall { case (c, op, tok, bkt) =>
      val rangeOk = stats.get(f).flatMap(_.get(c)) match {
        case None => true // no stats for this file/column: keep
        case Some(s) =>
          if (s.min == JNull && s.max == JNull) false // all-null file
          else {
            val vsMin = cmpValues(tok, s.min) // sign of (value - min)
            val vsMax = cmpValues(tok, s.max)
            (op, vsMin, vsMax) match {
              case ("=", Some(a), Some(b)) => a >= 0 && b <= 0
              case ("<", Some(a), _) => a > 0 // min < value
              case ("<=", Some(a), _) => a >= 0 // min <= value
              case (">", _, Some(b)) => b < 0 // max > value
              case (">=", _, Some(b)) => b <= 0 // max >= value
              case _ => true // kind mismatch: keep (conservative)
            }
          }
      }
      // point-lookup tier: a clear bucket bit PROVES absence even when
      // the range spans the value (unclustered columns). Only consulted
      // when the probe's kind matches the stored stats' kind — a numeric
      // probe against a STRING column would hash "50" while the column
      // holds "050", yet Spark's equality casts and matches; kind
      // mismatch falls back to the conservative range answer.
      val kindOk = stats.get(f).flatMap(_.get(c))
        .exists(s => cmpValues(tok, s.min).isDefined)
      val bitmapOk = !kindOk || bkt.forall { b =>
        sets.get(f).flatMap(_.get(c)).forall(b64 => bitmapHas(b64, b))
      }
      rangeOk && bitmapOk
    }
    val kept = files.filter(mayMatch)
    val df =
      if (kept.isEmpty)
        // provably empty under the predicates: an empty frame with the
        // table's schema, zero files opened
        read(spark, location, Some(v), format, options).limit(0)
      else {
        val base = scan(spark, dataPaths(root, kept), schemaOf(m), format, options)
        // deleted rows stay invisible on the pruned path too (DV entries
        // for pruned-away files anti-join to nothing, harmlessly)
        m.dv_file.fold(base)(applyDv(spark, root, base, _))
      }
    graft.log.Log.info("versioned pruned read",
      "location" -> location, "version" -> s"v$v",
      "files_total" -> files.size.toString, "files_kept" -> kept.size.toString)
    PrunedScan(df, files.size, kept.size)
  }

  /** Time travel by WALL CLOCK: the latest version committed at or
    * before `tsMillis` (versions without a recorded ts — pre-upgrade
    * manifests — are treated as older than any timestamp). Errors when
    * the table has no commit that old. Timestamp resolution is
    * convenience over the version log; the version number remains the
    * isolation truth (two commits in one millisecond resolve to the
    * later version). */
  def versionAt(spark: SparkSession, location: String, tsMillis: Long): Long = {
    val root = new Path(location)
    val fs = fsFor(spark, root)
    val vs = versions(spark, location)
    if (vs.isEmpty) throw new graft.config.ConfigError(
      s"versioned read: no committed versions at '$location'")
    vs.filter(v => manifestOf(fs, root, v).ts.getOrElse(0L) <= tsMillis)
      .lastOption.getOrElse(throw new graft.config.ConfigError(
        s"versioned read: no version at or before ts $tsMillis at '$location' " +
          s"(earliest is v${vs.head})"))
  }

  /** CDC over the log: the rows ADDED by each commit in
    * (`fromVersion`, `toVersion`], tagged `_commit_version` — the
    * incremental-consumer read (process only what arrived since the
    * bookmark, never rescan the table). Works on APPEND commits, whose
    * new rows are exactly their new files — file-level metadata, no
    * diffing. An overwrite commit in the range is a full logical
    * replace; its row-level delta would cost a two-snapshot EXCEPT scan,
    * so it aborts loudly — the consumer should re-read the snapshot
    * (same contract as Delta's readChangeFeed on non-CDF rewrites). */
  def changesBetween(spark: SparkSession, location: String,
                     fromVersion: Long, toVersion: Long,
                     format: String = "parquet",
                     options: Map[String, String] = Map.empty): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val root = new Path(location)
    val fs = fsFor(spark, root)
    val vs = versions(spark, location)
    require(fromVersion < toVersion,
      s"versioned changes: need fromVersion < toVersion, got $fromVersion >= $toVersion")
    Seq(fromVersion, toVersion).foreach { v =>
      if (!vs.contains(v)) throw new graft.config.ConfigError(
        s"versioned changes: version $v not in committed set ${vs.mkString("[", ",", "]")}")
    }
    val range = vs.filter(v => v > fromVersion && v <= toVersion)
    val manifest = manifestReader(fs, root)
    val frames = range.map { v =>
      val m = manifest(v).mode
      if (m != "append")
        throw new graft.config.ConfigError(
          s"versioned changes: v$v of '$location' is a $m commit — " +
            "its row-level delta is a full two-snapshot diff; use " +
            s"diffVersions(${v - 1}, $v) or read the snapshot " +
            s"(as_of_version: $v) instead")
      val prev = manifest(v - 1).names.toSet
      val added = manifest(v).names.filterNot(prev.contains)
      if (added.isEmpty)
        read(spark, location, Some(v), format, options).limit(0)
          .withColumn("_commit_version", lit(v))
      else scan(spark, dataPaths(root, added), schemaOf(manifest(v)), format, options)
        .withColumn("_commit_version", lit(v))
    }
    frames.reduceLeft(_.unionByName(_))
  }

  /** DESCRIBE HISTORY from metadata alone: one row per committed version
    * — mode, file count, total bytes (manifest fields) and row count
    * (sidecar, null for commits without stats). NO data file is opened:
    * at 100 TB this answers "how big is the table / what did each
    * commit add" from a few KB of log, where a count(*) scan is a job. */
  /** RESTORE: roll the table back to `toVersion` AS A NEW COMMIT — the
    * Delta `RESTORE TABLE ... TO VERSION AS OF` shape: the new head
    * references exactly v_N's file list (with its stats sidecar and
    * deletion vector BY NAME — zero bytes moved, metadata-only like
    * every commit here), and HISTORY IS PRESERVED: the bad versions
    * stay time-travelable for the post-mortem, unlike a vacuum. The
    * bad-deploy recovery primitive: a 100 TB table un-breaks in one
    * manifest write. CAS-published at latest+1 — a concurrent commit
    * wins the race and the restore aborts loudly (restoring over a
    * commit you haven't seen would silently drop it).
    * [[changesBetween]] refuses to cross a restore (mode != append),
    * the same CDC contract as overwrite/merge/delete. */
  def restore(spark: SparkSession, location: String, toVersion: Long): Long = {
    val root = new Path(location)
    val fs = fsFor(spark, root)
    val vs = versions(spark, location)
    if (!vs.contains(toVersion)) throw new graft.config.ConfigError(
      s"versioned restore: version $toVersion not in committed set ${vs.mkString("[", ",", "]")}")
    val latest = vs.last
    if (toVersion == latest) {
      graft.log.Log.info("versioned restore: already at target",
        "location" -> location, "version" -> s"v$latest")
      return latest
    }
    val target = manifestOf(fs, root, toVersion)
    if (!writeManifestCas(fs, root, latest + 1, "restore", target.files,
      schemaOf(target), None, target.stats_file, target.dv))
      throw new java.util.ConcurrentModificationException(
        s"versioned restore: serializable conflict at '$location' — a " +
          s"concurrent commit won v${latest + 1}; re-inspect and re-restore")
    graft.log.Log.info("versioned restore",
      "location" -> location, "restored_to" -> s"v$toVersion",
      "version" -> s"v${latest + 1}")
    latest + 1
  }

  /** Manifest byte total of ONE committed version — a single manifest
    * text fetch, no stats-sidecar read (the `history` row also parses
    * the sidecar for n_rows, which byte-budgeting callers — the CDC
    * `maxBytesPerDrain` bound — never need). */
  private[graft] def manifestTotalBytes(spark: SparkSession, location: String,
                                        version: Long): Long = {
    val root = new Path(location)
    manifestOf(fsFor(spark, root), root, version).files.map(_.bytes).sum
  }

  def history(spark: SparkSession, location: String): DataFrame = {
    import org.apache.spark.sql.types._
    val root = new Path(location)
    val fs = fsFor(spark, root)
    val vs = versions(spark, location)
    if (vs.isEmpty) throw new graft.config.ConfigError(
      s"versioned history: no committed versions at '$location'")
    val rows = vs.map { v =>
      // ONE manifest fetch per version (a 10k-commit DESCRIBE HISTORY on
      // an object store pays 10k GETs, not 40k)
      val m = manifestOf(fs, root, v)
      val sc = sidecarOf(fs, root, m)
      // deletion vectors hide rows the per-file counts still include
      val nRows: Any =
        if (sc.rows.isEmpty) null else sc.rows.map(_.rows).sum - m.dv_rows.getOrElse(0L)
      org.apache.spark.sql.Row(v, m.mode, m.n_files, m.files.map(_.bytes).sum,
        nRows, m.ts.map(Long.box).orNull)
    }
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      StructType(Seq(
        StructField("version", LongType, nullable = false),
        StructField("mode", StringType, nullable = false),
        StructField("n_files", LongType, nullable = false),
        StructField("total_bytes", LongType, nullable = false),
        StructField("n_rows", LongType, nullable = true),
        StructField("ts_millis", LongType, nullable = true))))
  }

  /** Reclaim space: delete manifests BELOW `keepFromVersion`, every data
    * file / stats sidecar only those dropped manifests referenced, and —
    * AGE-GATED — files no manifest ever referenced. The age gate
    * (`minOrphanAgeMillis`, default 10 min) is what makes vacuum safe
    * beside LIVE writers: a commit's files sit unreferenced in `data/`
    * between stageAndMove and its manifest CAS, and deleting them there
    * would let the commit publish a manifest pointing at nothing (the
    * Delta retention-window rule). Files referenced by a DROPPED
    * manifest were committed — their writer is done — so they reclaim
    * immediately. Namespace-only, cost ∝ file count. */
  def vacuumVersions(spark: SparkSession, location: String,
                     keepFromVersion: Long,
                     minOrphanAgeMillis: Long = 10 * 60 * 1000L): Seq[String] = {
    val root = new Path(location)
    val fs = fsFor(spark, root)
    val vs = versions(spark, location)
    if (vs.isEmpty) throw new graft.config.ConfigError(
      s"versioned vacuum: no committed versions at '$location'")
    val kept = vs.filter(_ >= keepFromVersion)
    if (kept.isEmpty) throw new graft.config.ConfigError(
      s"versioned vacuum: keep_from $keepFromVersion would drop EVERY version " +
        s"(latest is ${vs.last}) — refusing to empty the table")
    // resolve EVERY reference set up front — manifests below keep_from
    // are deleted mid-way and can't be consulted after. LIVE BRANCHES
    // are unconditionally kept: their manifests' file/stats/DV refs
    // must survive until dropBranch (a branch is a ref, not history).
    val branchManifests = fs.listStatus(logDir(root)).toSeq
      .map(_.getPath)
      .filter { p => val n = p.getName
        n.startsWith("v") && n.contains("@") && n.endsWith(".json") }
      .map(manifestAt(fs, _))
    val mains = vs.map(v => (v, manifestOf(fs, root, v))).toMap
    // (kept, any) references: those of the kept (or of all) main
    // manifests, plus every branch manifest's
    def refs(of: Json.Manifest => Iterable[String]): (Set[String], Set[String]) = {
      val branchRefs = branchManifests.flatMap(of)
      ((kept.map(mains).flatMap(of) ++ branchRefs).toSet,
        (vs.map(mains).flatMap(of) ++ branchRefs).toSet)
    }
    val (keptRefs, anyRefs) = refs(_.names)
    val (keptStats, anyStats) = refs(_.stats_file)
    val (keptDvs, anyDvs) = refs(_.dv_file)
    val now = System.currentTimeMillis()
    val dropped = scala.collection.mutable.ArrayBuffer.empty[String]
    fs.listStatus(dataDir(root)).foreach { st =>
      val n = st.getPath.getName
      val deletable = st.isFile && !keptRefs.contains(n) &&
        (anyRefs.contains(n) || // a dropped manifest's file: committed, safe
          now - st.getModificationTime >= minOrphanAgeMillis) // true orphan: age-gated
      if (deletable) {
        fs.delete(st.getPath, false)
        dropped += s"data/$n"
      }
    }
    vs.filter(_ < keepFromVersion).foreach { v =>
      fs.delete(manifestPath(root, v), false)
      dropped += f"_graft_log/v$v%05d.json"
    }
    // stats sidecars + stale manifest temp files: keep what the kept
    // manifests reference; dropped manifests' sidecars reclaim
    // immediately, never-referenced ones (in-flight commits!) age-gate
    fs.listStatus(logDir(root)).foreach { st =>
      val n = st.getPath.getName
      val orphanKind =
        if (n.startsWith("stats-")) !keptStats.contains(n)
        else n.startsWith(".tmp-") // a crashed writer's unpublished manifest
      val deletable = st.isFile && orphanKind &&
        ((n.startsWith("stats-") && anyStats.contains(n)) ||
          now - st.getModificationTime >= minOrphanAgeMillis)
      if (deletable) {
        fs.delete(st.getPath, false)
        dropped += s"_graft_log/$n"
      }
      // deletion-vector sidecars are DIRECTORIES: reclaim those no kept
      // manifest references (committed-then-dropped immediately;
      // never-referenced ones — an in-flight delete's staging — age-gate)
      if (st.isDirectory && n.startsWith("dv-") && !keptDvs.contains(n) &&
        (anyDvs.contains(n) ||
          now - st.getModificationTime >= minOrphanAgeMillis)) {
        fs.delete(st.getPath, true)
        dropped += s"_graft_log/$n"
      }
    }
    dropped.toSeq
  }
}
