package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import graft.config.{OutputTable, Refresh, TargetSpec}
import graft.util.Json

/** Output-table writer — reference A8–A16
  * (`glue/glue_etl_framework.py:190-275`), SURVEY.md §7 module 4.
  *
  * Refresh→mode mapping: `full` = purge-then-write in the reference
  * (`:217-219,240-243`, non-atomic: a failed Glue job can leave the
  * target purged and empty) → staged write + swap here, so a failed job
  * leaves the previous output intact (see A15 note in [[write]]);
  * `incremental` = append (`:217,240`). For partitioned full refresh we enable DYNAMIC
  * partition overwrite so only the partitions present in the result are
  * rewritten — this is what makes a daily re-run touch 1 day of a 100 TB
  * table instead of purging all of it, and is the honest realization of
  * the reference's "UPSERT on partitioned tables" claim (`README.md:68`,
  * A16).
  *
  * File-count control: `repartition` wins over `coalesce` when both are
  * set (`:199-202`, Appendix Q10). `repartition(n)` is a full shuffle —
  * right for rebalancing skewed output; `coalesce(n)` only narrows
  * existing partitions — right for merging small files without a shuffle.
  */
object Sinks {

  private[graft] def shaped(df: DataFrame, out: OutputTable): DataFrame = {
    val sized = (out.rangeKeys, out.repartition, out.coalesce) match {
      // range_partition_keys: each output file holds a DISJOINT key
      // range — the layout that makes zone maps / parquet row-group
      // stats prune range scans instead of matching every file
      case (rk, n, _) if rk.nonEmpty =>
        n.fold(df.repartitionByRange(rk.map(df.col): _*))(
          df.repartitionByRange(_, rk.map(df.col): _*))
      case (_, Some(n), _) =>
        if (out.partitionKeys.nonEmpty)
          // Cluster by the sink partition keys so each task writes few
          // files per storage partition (avoids the n_tasks × n_partitions
          // small-file explosion at scale).
          df.repartition(n, out.partitionKeys.map(df.col): _*)
        else df.repartition(n)
      case (_, None, Some(n)) => df.coalesce(n)
      case _ => df
    }
    // sort_by: order rows WITHIN each task's output file (no global
    // shuffle) — parquet/orc row-group min/max stats then prune range
    // scans on the sort key, the free time-travel index a 100 TB
    // time-partitioned table lives on. Parse-time validation keeps this
    // off bucketed sinks (their bucket spec sorts).
    if (out.sortKeys.nonEmpty)
      sized.sortWithinPartitions(out.sortKeys.map(df.col): _*)
    else sized
  }

  // ------------------------------------------------------------------
  // Generation-pointer publish — the A15 no-partial-output contract for
  // PLAIN (non-versioned) sinks on overwrite-only stores.
  //
  // The default staged swap (write to `.name.__staging__`, delete the
  // target, rename staging over it) assumes an atomic directory rename —
  // exactly the primitive a plain object store lacks, the same gap
  // [[CommitCoordinator]] closed for versioned manifests. When the
  // process-wide coordinator is anything other than
  // [[RenameCommitCoordinator]] (i.e. `spark.graft.commit.coordinator =
  // lockfile`, or a custom one), every full-rewrite publish switches to
  // a pointer-file indirection built from the two primitives such
  // stores do have (PUT-to-unique-key + consistent LIST):
  //
  //   <target>/_gen/g-<ts>-<uuid>/    data files (unique dir per write —
  //                                   never contended, crash leaves an
  //                                   unreferenced orphan, not a torn table)
  //   <target>/_graft_ptr/vNNN.json   one pointer per publish, named by a
  //                                   monotone version and won through
  //                                   [[VersionedTable.commitCoordinator]]
  //                                   (exactly-one-writer-wins CAS)
  //
  // A publish (a) writes the full result into a fresh generation dir,
  // (b) CAS-publishes the next pointer version naming that dir (retrying
  // with the next version on a lost race — full-refresh semantics are
  // last-writer-wins, so a lost race re-publishes the same generation),
  // then (c) purges SUPERSEDED state: generations referenced by older
  // pointers, the older pointers themselves, and any legacy plain-layout
  // data at the root (the full-refresh purge contract). In-flight
  // generations — written but not yet pointed at — are deliberately NOT
  // purged by winners (a concurrent writer may be about to publish
  // them); a crashed writer's orphan is reclaimed by [[vacuum]] after a
  // TTL, the lease discipline the coordinator already uses.
  //
  // Readers resolve through [[resolveDataPath]] (layout-driven: a
  // `_graft_ptr` dir means pointer mode regardless of the active
  // coordinator), which the framework's own read paths (Sources file
  // scan, upsert/scd2 existing-table reads, compact/cluster) all take.
  // A raw `spark.read.parquet(target)` on a pointer table fails loudly
  // (underscore dirs hide every data file) instead of silently reading
  // a mix of generations. The purge runs with a GRACE LAG
  // (`spark.graft.pointer.keepGenerations`, default 2, floor 1 — the
  // lockfile-settle validation discipline): the winner keeps the last
  // K generations and their pointers, so a reader that resolved the
  // previous pointer just before a publish finishes its scan intact
  // and only a reader straggling across K publishes fails — LOUDLY,
  // on missing files, never on silently mixed generations. One window
  // remains, documented table-format territory (`versioned: true` is
  // the snapshot-isolation tool): Spark's own task-commit machinery
  // inside a generation write (the store committer's domain —
  // generation dirs are single-writer, so only crash debris, never
  // torn published state). Partitioned upserts on pointer tables take the
  // whole-table merge (the per-partition rename swap of [[prunedUpsert]]
  // is rename-store-only); at scale that workload belongs on
  // `versioned: true`, whose file-level merge carries untouched files by
  // reference with no rename at all.
  // ------------------------------------------------------------------

  private[graft] def pointerPublishActive: Boolean =
    !(VersionedTable.commitCoordinator eq RenameCommitCoordinator)

  /** The pointer contention error [[currentPointer]] raises when the
    * latest pointer keeps vanishing under it — a DISTINCT type so
    * [[resolveDataPath]] can rethrow it instead of mistaking writer
    * contention for "not a pointer table" and silently reading the
    * (data-less) raw root. */
  private[graft] final class PointerContentionException(msg: String)
    extends java.io.IOException(msg)

  /** Purge grace: how many generations (the live one included) a
    * publish retains — `spark.graft.pointer.keepGenerations`, default
    * 2, floor 1 (the lockfile settle-floor validation discipline). At
    * the default a reader that resolved the superseded pointer just
    * before a publish finishes its scan; only a reader straggling
    * across `keepGenerations` publishes fails (loudly, on missing
    * files). 1 restores the eager purge (live generation only). */
  private def pointerKeepGenerations(spark: SparkSession): Int = {
    val key = "spark.graft.pointer.keepGenerations"
    val raw = spark.conf.getOption(key).getOrElse("2")
    val k = try raw.trim.toInt catch {
      case _: NumberFormatException =>
        throw new graft.config.ConfigError(s"$key must be an integer >= 1, got '$raw'")
    }
    if (k < 1) throw new graft.config.ConfigError(
      s"$key must be >= 1 (1 = keep only the live generation), got $k")
    k
  }

  private def ptrDir(target: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(target, "_graft_ptr")
  private def genRoot(target: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(target, "_gen")
  private val PtrName = "^v([0-9]{12})\\.json$".r
  private val GenName = "^g-([0-9]{13})-[0-9a-f]{8}$".r

  private def ptrPath(target: org.apache.hadoop.fs.Path, v: Long) =
    new org.apache.hadoop.fs.Path(ptrDir(target), f"v$v%012d.json")

  /** Is `target` in pointer layout (has published or is about to)? */
  private def usesPointer(fs: org.apache.hadoop.fs.FileSystem,
                          target: org.apache.hadoop.fs.Path): Boolean =
    pointerPublishActive || fs.exists(ptrDir(target))

  /** Open a pointer file and parse its generation name — the ONE
    * pointer-parse (shared by [[currentPointer]], [[purgeSuperseded]],
    * [[vacuum]] so the open/parse/guard behavior cannot fork). None on
    * a concurrently-purged (missing) pointer. */
  private def genOf(fs: org.apache.hadoop.fs.FileSystem,
                    p: org.apache.hadoop.fs.Path): Option[String] =
    try Some(Json.load[Json.Pointer](fs, p).gen)
    catch { case _: java.io.FileNotFoundException => None }

  /** Latest published (version, generation-dir name), if any. A purge
    * can delete the listed max pointer between LIST and OPEN — that
    * means a NEWER pointer exists, so re-list (bounded retries). */
  private[graft] def currentPointer(fs: org.apache.hadoop.fs.FileSystem,
      target: org.apache.hadoop.fs.Path): Option[(Long, String)] = {
    var attempt = 0
    while (attempt < 10) {
      val vs =
        try fs.listStatus(ptrDir(target)).flatMap(st => st.getPath.getName match {
          case PtrName(d) => Some(d.toLong)
          case _ => None
        })
        catch { case _: java.io.FileNotFoundException => Array.empty[Long] }
      if (vs.isEmpty) return None
      val v = vs.max
      genOf(fs, ptrPath(target, v)) match {
        case Some(g) => return Some((v, g))
        case None => attempt += 1 // purged under us: a newer pointer exists
      }
    }
    throw new PointerContentionException(
      s"pointer read: the latest pointer at '$target' kept vanishing " +
        "(10 attempts) — writers are publishing faster than reads can settle")
  }

  /** Does `target` hold a readable published table? In pointer layout
    * only a published pointer counts (a crashed first write leaves
    * `_gen` debris but no table); otherwise the plain existence check. */
  private def hasPublished(fs: org.apache.hadoop.fs.FileSystem,
                           target: org.apache.hadoop.fs.Path): Boolean =
    if (fs.exists(ptrDir(target))) currentPointer(fs, target).isDefined
    else fs.exists(target)

  /** The directory the CURRENT table contents live in: the pointed-at
    * generation for pointer-layout tables, the location itself
    * otherwise. Every framework read of a plain file sink goes through
    * here (Sources file scan included), so a table published on an
    * overwrite-only deployment reads back correctly anywhere. */
  def resolveDataPath(spark: SparkSession, location: String): String = {
    val target = new org.apache.hadoop.fs.Path(location)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val resolved =
      try currentPointer(fs, target)
      catch {
        // writer contention is NOT "no pointer table": falling back to
        // the raw root would silently read an empty table (all data
        // lives under _gen) — rethrow and let the caller retry
        case e: PointerContentionException => throw e
        case _: java.io.IOException => None // globs, raw files
      }
    resolved.fold(location)(p => new org.apache.hadoop.fs.Path(genRoot(target), p._2).toString)
  }

  /** STRAGGLER re-resolve (r13 verdict #5): run `read` against the
    * current resolved data path; if it fails on a MISSING generation —
    * the reader held a path across more than `keepGenerations`
    * publishes, so the purge reclaimed the directory under its scan —
    * re-resolve the pointer ONCE and re-run against the fresh
    * snapshot. A long scan thus degrades to a fresh-snapshot retry
    * (losing snapshot isolation ACROSS the retry, which the WARN log
    * states; `versioned: true` is the tool when that matters) instead
    * of a hard fail. Loud on the second failure — a generation that is
    * gone from the CURRENT pointer too is real corruption, and a
    * non-pointer location never retries.
    *
    * SCOPE: the retry covers exactly what runs inside `read` — for the
    * framework file scan that is the load-time directory listing (the
    * resolve-to-load window); a straggle during a LATER action on the
    * returned lazy frame surfaces at that action, outside any wrapper
    * the load site can install, and the caller re-reads through this
    * helper. Fatal errors (OOM etc.) propagate — retrying on a dying
    * JVM would mask them. */
  def withPointerRetry[T](spark: SparkSession, location: String)(read: String => T): T = {
    val first = resolveDataPath(spark, location)
    try read(first)
    catch {
      case e: Throwable if scala.util.control.NonFatal(e) &&
        first != location && isMissingPath(e) =>
        val second = resolveDataPath(spark, location)
        if (second == first) throw e
        graft.log.Log.warn(
          "pointer read: generation vanished mid-read (reader straggled " +
            "past keepGenerations publishes) — re-resolved once to the " +
            "fresh snapshot; rows read before the failure came from the " +
            "OLD generation, so the retried read is a new snapshot, not " +
            "a continuation",
          "location" -> location, "stale" -> first, "fresh" -> second)
        read(second)
    }
  }

  /** Does `e`'s cause chain say a path/file disappeared? (The purge
    * surfaces as PATH_NOT_FOUND at plan time or FileNotFoundException
    * mid-scan, usually wrapped in SparkException layers.) Bounded walk:
    * cause chains can self-reference. */
  private def isMissingPath(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10).exists {
      case _: java.io.FileNotFoundException => true
      case t =>
        val m = Option(t.getMessage).getOrElse("")
        m.contains("PATH_NOT_FOUND") || m.contains("FileNotFoundException")
    }

  private def newGenDir(target: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(genRoot(target),
      f"g-${System.currentTimeMillis()}%013d-${java.util.UUID.randomUUID().toString.take(8)}")

  /** CAS-publish the next pointer version naming `genName`; returns the
    * version won. A lost race retries at the next version — correct for
    * full-rewrite semantics (the generation is complete and
    * self-contained; later pointers simply supersede it). */
  private def publishPointer(fs: org.apache.hadoop.fs.FileSystem,
      target: org.apache.hadoop.fs.Path, genName: String, format: String,
      keep: Int): Long = {
    val content = Json.write(Json.Pointer(genName, format))
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val genPath = new org.apache.hadoop.fs.Path(genRoot(target), genName)
    var attempt = 0
    while (attempt < 50) {
      val next = currentPointer(fs, target).map(_._1).getOrElse(0L) + 1
      // belt against a mis-configured vacuum TTL: never CAS-install a
      // pointer to a generation that is no longer there (a torn table
      // would be worse than this loud failure)
      if (!fs.exists(genPath))
        throw new java.io.IOException(
          s"pointer publish: generation '$genName' at '$target' vanished " +
            "before publish — was vacuum run with a TTL shorter than this write?")
      if (VersionedTable.commitCoordinator.publish(fs, ptrDir(target),
          ptrPath(target, next), content)) {
        // the belt above is not atomic with the CAS: vacuum can delete
        // the generation in between. Re-verify AFTER winning and
        // withdraw the just-published pointer rather than leave a
        // pointer to a missing generation installed as latest.
        if (!fs.exists(genPath)) {
          try fs.delete(ptrPath(target, next), false)
          catch { case _: java.io.IOException => () }
          throw new java.io.IOException(
            s"pointer publish: generation '$genName' at '$target' vanished " +
              s"between the pre-publish check and the pointer CAS (pointer v$next " +
              "withdrawn) — was vacuum run with a TTL shorter than this write?")
        }
        purgeSuperseded(fs, target, next, keep)
        return next
      }
      attempt += 1
    }
    throw new java.io.IOException(
      s"pointer publish: lost the version race 50 times at '$target'")
  }

  /** Full-refresh purge, pointer edition: drop pointers more than
    * `keep-1` versions below the winner and the generations they
    * reference (the purge GRACE LAG — a reader that resolved a
    * just-superseded pointer finishes its scan; see
    * [[pointerKeepGenerations]]), plus any legacy plain-layout entries
    * at the root (superseded by definition once a pointer exists).
    * Never touches unreferenced generations — they may be a concurrent
    * writer's in-flight publish ([[vacuum]] reclaims crash orphans
    * after the TTL). All best-effort: purge failures leave garbage,
    * never a wrong table. */
  private def purgeSuperseded(fs: org.apache.hadoop.fs.FileSystem,
      target: org.apache.hadoop.fs.Path, winner: Long, keep: Int): Unit = {
    val pd = ptrDir(target)
    val old =
      try fs.listStatus(pd).map(_.getPath).flatMap(p => p.getName match {
        case PtrName(d) if d.toLong <= winner - keep => Some((d.toLong, p))
        case _ => None
      })
      catch { case _: java.io.IOException => Array.empty[(Long, org.apache.hadoop.fs.Path)] }
    old.foreach { case (_, p) =>
      try {
        genOf(fs, p).foreach { g =>
          fs.delete(new org.apache.hadoop.fs.Path(genRoot(target), g), true)
        }
        fs.delete(p, false)
      } catch { case _: java.io.IOException => () }
    }
    // decided elections' intent dirs: any election at or below the
    // winner is over (its pointer exists, so stragglers fail their
    // exists-check and never look at these again) — GC the debris a
    // contested table would otherwise accumulate forever
    val IntentDir = "^\\.intent-v([0-9]{12})\\.json$".r
    try fs.listStatus(pd).foreach { st =>
      st.getPath.getName match {
        case IntentDir(d) if d.toLong <= winner =>
          try fs.delete(st.getPath, true)
          catch { case _: java.io.IOException => () }
        case _ => ()
      }
    } catch { case _: java.io.IOException => () }
    // legacy plain-layout data at the root (pre-pointer writes)
    try fs.listStatus(target).foreach { st =>
      val n = st.getPath.getName
      if (n != "_gen" && n != "_graft_ptr" && n != "_graft_log")
        fs.delete(st.getPath, true)
    } catch { case _: java.io.IOException => () }
  }

  /** The one staged-publish seam every full-rewrite path shares
    * (full-refresh, whole-table upsert, scd2, [[compact]],
    * [[clusterZOrder]]): `writeTo` materializes the complete result
    * into the directory it is given — the target is untouched until the
    * write succeeds — then the publish is either the atomic delete+
    * rename swap (rename-capable stores, the default) or a
    * generation-pointer publish through the configured
    * [[CommitCoordinator]] (overwrite-only stores). */
  private[graft] def stagedPublish(spark: SparkSession,
      target: org.apache.hadoop.fs.Path, fs: org.apache.hadoop.fs.FileSystem,
      format: String, label: String)(
      writeTo: org.apache.hadoop.fs.Path => Unit): Unit = {
    if (usesPointer(fs, target)) {
      val gen = newGenDir(target)
      writeTo(gen)
      publishPointer(fs, target, gen.getName, format,
        pointerKeepGenerations(spark)): Unit
    } else {
      val staging = new org.apache.hadoop.fs.Path(
        target.getParent, s".${target.getName}.__staging__")
      fs.delete(staging, true)
      writeTo(staging)
      fs.delete(target, true)
      if (!fs.rename(staging, target))
        throw new java.io.IOException(s"$label: rename $staging -> $target failed")
    }
  }

  private def mode(r: Refresh): SaveMode = r match {
    case Refresh.Full        => SaveMode.Overwrite
    case Refresh.Incremental => SaveMode.Append
    case Refresh.Upsert | Refresh.Scd2 => throw new graft.config.ConfigError(
      s"refresh: $r is supported for file targets only (catalog/jdbc row-level " +
        "merge needs a table format)")
  }

  /** Publish manifest — `_graft_manifest.json` inside the table dir:
    * row count, sorted relative file list with byte sizes, totals. The
    * 100 TB handoff contract: a downstream consumer (or a rerun
    * deciding idempotence) verifies the table against metadata instead
    * of rescanning it. On staged publishes the manifest is written INTO
    * staging before the swap, so table + manifest publish atomically
    * and can never disagree. The row count reads the just-written
    * files' footers (parquet counts scan zero columns); underscore
    * naming keeps every Spark/Hive reader from listing it as data. */
  private def writeManifest(spark: SparkSession,
                            dir: org.apache.hadoop.fs.Path,
                            out: OutputTable): Unit = {
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = dir.toUri.getPath.stripSuffix("/")
    val files = scala.collection.mutable.ArrayBuffer.empty[Json.FileEntry]
    val it = fs.listFiles(dir, true)
    while (it.hasNext) {
      val st = it.next()
      val name = st.getPath.getName
      if (st.isFile && !name.startsWith("_") && !name.startsWith(".")) {
        files += Json.FileEntry(st.getPath.toUri.getPath.stripPrefix(base).stripPrefix("/"), st.getLen)
      }
    }
    val rows = spark.read.format(out.format)
      .options(graft.sources.Sources.mapOptions(out.options))
      .load(dir.toString).count()
    val sorted = files.toSeq.sortBy(_.name)
    Json.writeFile(fs, new org.apache.hadoop.fs.Path(dir, "_graft_manifest.json"),
      Json.write(Json.PublishManifest(out.name, out.format, rows, sorted.size,
        sorted.map(_.bytes).sum, sorted)))
  }

  /** Returns the `observe_cols` audit metrics collected during the write
    * (empty when none were requested). The Observation is attached HERE,
    * to the frame each branch executes exactly once — for upsert/scd2
    * that is the MERGED frame, not the incoming snapshot: the snapshot's
    * subtree appears 2-3 times inside the merge plan (anti-join + union;
    * unchanged/closed/opened branches), so observing it upstream would
    * multiply the counts. Attached on the merged frame the metrics
    * describe the table as PUBLISHED, which is what a publish audit
    * certifies anyway. Under PRUNED merges (partitioned upsert,
    * versioned file-level merge) the executed-once frame covers the
    * REWRITTEN portion only — untouched partitions/files carry by
    * reference and are deliberately not re-scanned for metrics (a
    * whole-table metrics pass would defeat the pruning). */
  /** `mask:` release transform — applied to every sink path (batch and
    * streaming foreachBatch) before dq_checks see the frame. `hash` is
    * the stable keyed-sha2 token (joins survive), `null` a typed null,
    * `last4` the starred-prefix form for string columns.
    *
    * The `hash` key comes from `spark.graft.mask.key` (Spark conf) or
    * `GRAFT_MASK_KEY` (env) — a per-deployment SECRET, so tokens are not
    * globally deterministic and a dictionary attack on low-entropy
    * identifiers (names, phones) needs the key. The fixed literal
    * `graft-mask-v1` remains the DEFAULT only for the oracle-tested
    * fixture path; falling back to it gets a LOUD warning (r11 ADVICE:
    * a production deployment that forgets the conf must not silently
    * ship dictionary-attackable tokens). A configured key is applied
    * through a UDF CLOSURE, never a SQL literal, so the secret cannot
    * serialize into plan text, the Spark UI SQL tab, or event logs —
    * the one place this repo trades whole-stage codegen for a UDF, and
    * deliberately: this is a release transform on the sink path, not a
    * hot scan operator, and secret hygiene beats codegen there.
    * Residual risk even with a key: tokens are deterministic per
    * deployment (by design, so joins survive masking), so within one
    * release equal identifiers remain linkable. */
  private[graft] val DefaultMaskKey = "graft-mask-v1"

  def maskKey(df: DataFrame): String =
    df.sparkSession.conf.getOption("spark.graft.mask.key")
      .orElse(sys.env.get("GRAFT_MASK_KEY"))
      .getOrElse(DefaultMaskKey)

  /** Exactly Spark's `substring(sha2(concat(key, ':', s), 256), 1, 16)`
    * — the two mask paths (default-key codegen'd expression, keyed UDF
    * closure) must produce identical tokens for the same key. */
  private def keyedToken(key: String, s: String): String =
    if (s == null) null
    else java.security.MessageDigest.getInstance("SHA-256")
      .digest((key + ":" + s).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString.substring(0, 16)

  def applyMask(df: DataFrame, out: OutputTable): DataFrame =
    if (out.mask.isEmpty) df
    else {
      import org.apache.spark.sql.functions.{col, expr, lit}
      val missing = out.mask.keys.filterNot(df.columns.contains).toSeq.sorted
      if (missing.nonEmpty) throw new graft.config.ConfigError(
        s"output '${out.name}': mask columns not in the result: ${missing.mkString(", ")}")
      val rawKey = maskKey(df)
      if (rawKey == DefaultMaskKey && out.mask.valuesIterator.contains("hash"))
        graft.log.Log.warn(
          "mask:hash is using the PUBLIC default key — tokens are " +
            "dictionary-attackable; set spark.graft.mask.key (or " +
            "GRAFT_MASK_KEY) in production",
          "output" -> out.name)
      val key = rawKey.replace("\\", "\\\\").replace("'", "\\'")
      df.select(df.columns.toSeq.map { c =>
        out.mask.get(c) match {
          case Some("hash") if rawKey != DefaultMaskKey =>
            // configured secret: UDF closure keeps the key out of plan
            // text / UI / event logs (see maskKey scaladoc)
            val k = rawKey
            org.apache.spark.sql.functions
              .udf((s: String) => keyedToken(k, s))
              .apply(col(c).cast("string")).as(c)
          case Some("hash") =>
            expr(s"substring(sha2(concat('$key:', CAST(`$c` AS STRING)), 256), 1, 16)").as(c)
          case Some("null") => lit(null).cast(df.schema(c).dataType).as(c)
          case Some("last4") =>
            if (df.schema(c).dataType != org.apache.spark.sql.types.StringType)
              throw new graft.config.ConfigError(
                s"output '${out.name}': mask.last4 needs a STRING column; '$c' is ${df.schema(c).dataType.sql}")
            expr(s"concat(repeat('*', greatest(length(`$c`) - 4, 0)), right(`$c`, 4))").as(c)
          case _ => col(c)
        }
      }: _*)
    }

  def write(spark: SparkSession, df: DataFrame, out: OutputTable,
            txn: Option[(String, Long)] = None): Seq[(String, Any)] = {
    val data = shaped(applyMask(df, out), out)
    var pendingObs: Option[org.apache.spark.sql.Observation] = None
    def observed(frame: DataFrame): DataFrame =
      if (out.observeCols.isEmpty) frame
      else {
        import org.apache.spark.sql.functions.{count, lit, col}
        val obs = org.apache.spark.sql.Observation(s"graft_${out.name}")
        pendingObs = Some(obs)
        val exprs = count(lit(1)).as("n_rows") +:
          out.observeCols.map(c => count(col(c)).as(s"nonnull_$c"))
        frame.observe(obs, exprs.head, exprs.tail: _*)
      }
    out.target match {
      case TargetSpec.File(location) if out.versioned && out.branch.nonEmpty =>
        // BRANCH commit — the WAP staging write: lands on the named
        // branch's lineage in the shared data namespace; main readers
        // see nothing until publish_branch (parse rejects upsert/
        // stats_columns/materialized with branch)
        val mode = out.refresh match {
          case graft.config.Refresh.Full => "overwrite"
          case graft.config.Refresh.Incremental => "append"
          case other => throw new graft.config.ConfigError(
            s"output '${out.name}': refresh $other with branch is rejected at parse time")
        }
        VersionedTable.branchCommit(spark, location, out.branch.get,
          observed(data), mode, out.format, out.options, txn = txn): Unit

      case TargetSpec.File(location) if out.versioned =>
        // versioned-manifest publish ([[VersionedTable]]): full =
        // overwrite commit, incremental = append commit, upsert =
        // snapshot merge + SERIALIZABLE commit (a concurrent commit
        // since the snapshot aborts loudly instead of being silently
        // overwritten by a stale merge). Commits move metadata, not
        // data; a failed job leaves only unreferenced files.
        out.refresh match {
          case Refresh.Full =>
            VersionedTable.commit(spark, location, observed(data),
              "overwrite", out.format, out.options,
              statsColumns = out.statsColumns): Unit
          case Refresh.Incremental =>
            // txn (checkpoint id, batch id) makes a streaming foreachBatch
            // REPLAY of an already-committed batch a no-op — exactly-once
            // into the versioned table
            val frame = observed(data)
            val before = VersionedTable.versions(spark, location).lastOption
            val v = VersionedTable.commit(spark, location, frame,
              "append", out.format, out.options, txn = txn,
              statsColumns = out.statsColumns)
            // a replay skip returns before any action runs on `frame`;
            // an attached Observation would then block forever at the
            // metrics fetch — execute the plan once (the prunedUpsert
            // empty-batch discipline) so the metrics land
            if (before.contains(v) && pendingObs.nonEmpty)
              frame.foreach(_ => ())
          case Refresh.Upsert =>
            // FILE-LEVEL merge: only files whose zone maps can contain
            // an arrival key are rewritten; the rest carry by
            // reference (stats_columns on the merge key makes the
            // pruning sharp; without stats it degrades to a full
            // rewrite — correct, just unpruned). Serializable.
            VersionedTable.merge(spark, location, data,
              out.mergeKeys, out.format, out.options,
              statsColumns = out.statsColumns,
              publishTransform = observed): Unit
          case Refresh.Scd2 => throw new graft.config.ConfigError(
            s"output '${out.name}': scd2 with versioned is rejected at parse time")
        }

      case TargetSpec.File(location) if out.refresh == Refresh.Upsert =>
        // A16 made real: row-level merge on merge_keys. Without a table
        // format this is honest read-merge-rewrite — existing rows whose
        // key collides with an incoming row are replaced, everything else
        // survives. Unpartitioned targets merge the whole table to
        // staging then swap (the full-refresh publish contract).
        // PARTITIONED targets take [[prunedUpsert]]: only the partitions
        // the batch actually touches are read, merged, and swapped —
        // at 100 TB a daily merge rewrites the day, not the table.
        if (out.mergeKeys.isEmpty) throw new graft.config.ConfigError(
          s"output '${out.name}': refresh upsert requires merge_keys")
        val target = new org.apache.hadoop.fs.Path(location)
        val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (hasPublished(fs, target) && out.partitionKeys.nonEmpty &&
            !usesPointer(fs, target)) {
          prunedUpsert(spark, data, out, target, fs, observed)
        } else {
          val merged =
            if (hasPublished(fs, target)) {
              val existing = spark.read.format(out.format)
                .options(graft.sources.Sources.mapOptions(out.options))
                .load(resolveDataPath(spark, location))
              existing.join(data, out.mergeKeys, "left_anti").unionByName(data)
            } else data
          stagedPublish(spark, target, fs, out.format, "staged upsert") { dir =>
            val w = observed(merged).write.format(out.format)
              .options(graft.sources.Sources.mapOptions(out.options))
              .mode(SaveMode.Overwrite)
            (if (out.partitionKeys.nonEmpty) w.partitionBy(out.partitionKeys: _*) else w)
              .save(dir.toString)
            if (out.manifest) writeManifest(spark, dir, out)
          }
        }

      case TargetSpec.File(location) if out.refresh == Refresh.Scd2 =>
        // SCD type-2 history sink: the incoming frame is a FULL snapshot;
        // each merge-key's versions accumulate with validity metadata.
        // Per batch b (a deterministic sequence, prior max + 1 — never a
        // wall clock, so reruns replay and the history oracle-checks):
        //   unchanged current rows survive untouched;
        //   changed rows close (valid_to = b) and a new version opens;
        //   keys missing from the snapshot close (the row was deleted);
        //   new keys open at b. Null-safe (<=>), column-order-free
        // change detection. Same staged-swap publish as upsert — the
        // target is read lazily while staging writes, then atomically
        // renamed.
        import org.apache.spark.sql.functions.{col, lit, not}
        if (out.mergeKeys.isEmpty) throw new graft.config.ConfigError(
          s"output '${out.name}': refresh scd2 requires merge_keys")
        val metaCols = Seq("_valid_from_batch", "_valid_to_batch", "_is_current")
        metaCols.find(data.columns.contains).foreach { c =>
          throw new graft.config.ConfigError(
            s"output '${out.name}': column '$c' collides with scd2 metadata")
        }
        val dataCols = data.columns.toSeq
        val valueCols = dataCols.filterNot(out.mergeKeys.contains)
        val target = new org.apache.hadoop.fs.Path(location)
        val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val result =
          if (!hasPublished(fs, target))
            data.withColumn("_valid_from_batch", lit(1))
              .withColumn("_valid_to_batch", lit(null).cast("int"))
              .withColumn("_is_current", lit(true))
          else {
            val existing = spark.read.format(out.format)
              .options(graft.sources.Sources.mapOptions(out.options))
              .load(resolveDataPath(spark, location))
            val batch = existing.agg(
                org.apache.spark.sql.functions.max(col("_valid_from_batch")))
              .head.getInt(0) + 1
            val history = existing.filter(not(col("_is_current")))
            val current = existing.filter(col("_is_current"))
            val inc = data.select(dataCols.map(c => col(c).as(s"__i_$c")): _*)
            val joined = current.join(inc,
              out.mergeKeys.map(k => col(k) === col(s"__i_$k")).reduce(_ && _),
              "full_outer")
            val curPresent = col(out.mergeKeys.head).isNotNull
            val incPresent = col(s"__i_${out.mergeKeys.head}").isNotNull
            val same = valueCols.map(c => col(c) <=> col(s"__i_$c"))
              .foldLeft(lit(true))(_ && _)
            val keepCols = (dataCols ++ metaCols).map(col)
            val unchanged = joined.filter(curPresent && incPresent && same)
              .select(keepCols: _*)
            val closed = joined.filter(curPresent && (!incPresent || !same))
              .select((dataCols.map(col) ++ Seq(col("_valid_from_batch"),
                lit(batch).as("_valid_to_batch"), lit(false).as("_is_current"))): _*)
            val opened = joined.filter(incPresent && (!curPresent || !same))
              .select((dataCols.map(c => col(s"__i_$c").as(c)) ++ Seq(
                lit(batch).as("_valid_from_batch"),
                lit(null).cast("int").as("_valid_to_batch"),
                lit(true).as("_is_current"))): _*)
            history.unionByName(unchanged).unionByName(closed).unionByName(opened)
          }
        stagedPublish(spark, target, fs, out.format, "staged scd2") { dir =>
          val w = observed(result).write.format(out.format)
            .options(graft.sources.Sources.mapOptions(out.options))
            .mode(SaveMode.Overwrite)
          (if (out.partitionKeys.nonEmpty) w.partitionBy(out.partitionKeys: _*) else w)
            .save(dir.toString)
          if (out.manifest) writeManifest(spark, dir, out)
        }

      case TargetSpec.File(location)
          if out.refresh == Refresh.Full && out.partitionKeys.isEmpty =>
        // A15 (governed-write contract): Spark's static overwrite DELETES
        // the target before the job runs, so a mid-job failure destroys
        // the previous output. Stage-then-swap instead: the expensive job
        // writes to a staging dir (target untouched on failure); only the
        // cheap final delete+rename window is non-atomic. Full ACID needs
        // a table format; this matches the reference's observable
        // purge+rewrite semantics (`glue_etl_framework.py:217-219`)
        // without its mid-job data-loss window.
        // (The partitioned path below needs no staging: dynamic partition
        // overwrite replaces partitions at job COMMIT time.)
        val target = new org.apache.hadoop.fs.Path(location)
        val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
        stagedPublish(spark, target, fs, out.format, "staged publish") { dir =>
          observed(data).write.format(out.format)
            .options(graft.sources.Sources.mapOptions(out.options))
            .mode(SaveMode.Overwrite)
            .save(dir.toString)
          if (out.manifest) writeManifest(spark, dir, out)
        }

      case TargetSpec.File(location) =>
        val target = new org.apache.hadoop.fs.Path(location)
        val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
        // Pointer-layout tables take in-place writes INSIDE the current
        // generation: appends add unique files, dynamic overwrite
        // replaces partitions within the generation — the same in-place
        // visibility semantics these modes have on a plain layout (the
        // store committer's domain), with the pointer untouched. Only
        // the FIRST write on an EMPTY pointer table publishes (there is
        // no generation to append into yet). A table with legacy
        // plain-layout data and no pointer stays plain here: these modes
        // are in-place anyway, and minting a generation from one batch
        // would orphan (and the purge would then DELETE) every legacy
        // row — the table upgrades to pointer layout at its next full
        // rewrite, which reads and carries the legacy data.
        // `_graft_log` is excluded to MATCH purgeSuperseded's allowlist:
        // a location holding only a leftover versioned-table log is not
        // legacy data, and counting it would pin a plain append sink in
        // plain layout forever while the purge path preserves the log
        def hasLegacyData: Boolean =
          fs.exists(target) && fs.listStatus(target).exists { st =>
            val n = st.getPath.getName
            n != "_gen" && n != "_graft_ptr" && n != "_graft_log"
          }
        val (dest, publishAfter) =
          if (!usesPointer(fs, target))
            (location, Option.empty[org.apache.hadoop.fs.Path])
          else currentPointer(fs, target) match {
            case Some((_, gen)) =>
              (new org.apache.hadoop.fs.Path(genRoot(target), gen).toString, None)
            case None if hasLegacyData =>
              (location, None) // legacy plain table: keep writing in place
            case None =>
              // first write on an EMPTY table: publish only after the
              // data lands (two concurrent FIRST writes race
              // last-writer-wins here — seed a shared append table with
              // a full refresh first)
              val gen = newGenDir(target)
              (gen.toString, Some(gen))
          }
        val w = observed(data).write.format(out.format)
          .options(graft.sources.Sources.mapOptions(out.options))
          .mode(mode(out.refresh))
        val w2 = if (out.partitionKeys.nonEmpty) {
          // Dynamic overwrite: full refresh replaces only result partitions.
          // Writer-scoped option, NOT spark.conf.set — a session-global
          // mutation would silently change later writes' overwrite semantics.
          w.option("partitionOverwriteMode", "dynamic")
            .partitionBy(out.partitionKeys: _*)
        } else w
        w2.save(dest)
        // append/dynamic-overwrite publish is in place, so the manifest
        // lands after the data (non-atomic, refreshed on every run)
        if (out.manifest) writeManifest(spark,
          new org.apache.hadoop.fs.Path(dest), out)
        publishAfter.foreach(gen =>
          publishPointer(fs, target, gen.getName, out.format,
            pointerKeepGenerations(spark)): Unit)

      case TargetSpec.Jdbc(url, table) =>
        // partitioning/file-count knobs don't apply to a database table;
        // refresh maps to overwrite (with truncate, preserving the table
        // schema/grants) vs append.
        observed(data).write.format("jdbc")
          .option("url", url).option("dbtable", table)
          .option("truncate", "true")
          .options(out.options)
          .mode(mode(out.refresh))
          .save()

      case TargetSpec.Catalog(database, governed) =>
        runCatalog(spark, observed(data), out, database, governed)
    }
    pendingObs.map(_.get.toSeq.sortBy(_._1)).getOrElse(Nil)
  }

  /** Partition-pruned MERGE — the A16 upsert at 100 TB scale. The
    * whole-table read-merge-swap is correct but rewrites every byte per
    * merge; this path rewrites ONLY the partitions the batch touches:
    *
    *   affected = partitions(incoming) ∪ partitions(existing rows whose
    *              merge key matches an incoming key)
    *
    * (the second leg catches KEY MOVES: an update that lands a key in a
    * new partition must delete it from the old one). Existing rows are
    * read with the affected-partition filter — partition pruning keeps
    * the scan to those directories — merged (anti-join + union, the same
    * row-level semantics as the unpartitioned path), staged partitioned,
    * then swapped per-partition: each affected partition directory is
    * replaced by its staged version, or deleted outright when the merge
    * left it empty (all its rows moved away). Untouched partitions are
    * never listed, read, or rewritten — their files keep their mtimes
    * (asserted in SinksSpec).
    *
    * Driver-side state: ONE collect of the affected partition VALUES —
    * bounded by the number of partitions the batch touches (the same
    * cardinality a metastore ALTER PARTITION call list holds), never by
    * row count. Partition values compare/compose via their string form
    * (the Hive path convention): string/integral/date keys round-trip
    * exactly; null maps to `__HIVE_DEFAULT_PARTITION__`.
    *
    * Atomicity: the expensive merge fully materializes in staging while
    * the target is untouched; only the per-partition delete+rename loop
    * is non-atomic (same window as the full-refresh swap, now scoped to
    * the touched partitions). A crash mid-loop leaves each partition
    * either old or new, never partial — rerunning the merge is
    * idempotent. The manifest (whole-table by contract) is refreshed
    * after the swap, the append-path convention.
    *
    * `observe_cols` metrics here describe the rows this merge PUBLISHED
    * (the affected partitions' new content) — the whole-table numbers
    * live in the manifest; re-counting untouched partitions just to
    * audit them would defeat the pruning. */
  private def prunedUpsert(spark: SparkSession, data: DataFrame, out: OutputTable,
                           target: org.apache.hadoop.fs.Path,
                           fs: org.apache.hadoop.fs.FileSystem,
                           observed: DataFrame => DataFrame): Unit = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val location = target.toString
    val pk = out.partitionKeys
    val existing = spark.read.format(out.format)
      .options(graft.sources.Sources.mapOptions(out.options)).load(location)
    val incKeys = data.select(out.mergeKeys.map(col): _*).distinct()
    // one small job: the touched partition values (bounded — see scaladoc)
    val affected = data.select(pk.map(c => col(c).cast("string")): _*)
      .union(existing.join(broadcast(incKeys), out.mergeKeys, "left_semi")
        .select(pk.map(c => col(c).cast("string")): _*))
      .distinct().collect()
    if (affected.nonEmpty) {
      // existing rows in affected partitions only. The collected values
      // become a LITERAL predicate over the partition columns, so the
      // scan prunes to the affected directories at PLAN time (asserted
      // in SinksSpec via the read plan). Beyond 1000 touched partitions
      // the literal disjunction would bloat planning — fall back to a
      // broadcast semi-join (correct, DPP-eligible shape).
      import org.apache.spark.sql.functions.lit
      val existingAffected =
        if (affected.length <= 1000) {
          val pred = affected.map { row =>
            pk.indices.map { i =>
              existing.col(pk(i)).cast("string") <=>
                lit(row.getString(i)).cast("string")
            }.reduce(_ && _)
          }.reduce(_ || _)
          existing.filter(pred)
        } else {
          val affectedDf = spark.createDataFrame(
            spark.sparkContext.parallelize(affected.toIndexedSeq, 1),
            org.apache.spark.sql.types.StructType(pk.map(c =>
              org.apache.spark.sql.types.StructField(c, org.apache.spark.sql.types.StringType))))
          existing.join(broadcast(affectedDf),
            pk.map(c => existing.col(c).cast("string") <=> affectedDf.col(c)).reduce(_ && _),
            "left_semi")
        }
      val merged = existingAffected.join(data, out.mergeKeys, "left_anti")
        .unionByName(data)
      val staging = new org.apache.hadoop.fs.Path(
        target.getParent, s".${target.getName}.__staging__")
      fs.delete(staging, true)
      observed(merged).write.format(out.format)
        .options(graft.sources.Sources.mapOptions(out.options))
        .mode(SaveMode.Overwrite)
        .partitionBy(pk: _*)
        .save(staging.toString)
      // per-partition swap: replace or remove each AFFECTED directory
      affected.foreach { row =>
        val rel = pk.indices.map { i =>
          val v = row.getString(i)
          val seg = if (v == null) "__HIVE_DEFAULT_PARTITION__"
            else org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
              .escapePathName(v)
          s"${pk(i)}=$seg"
        }.mkString("/")
        val src = new org.apache.hadoop.fs.Path(staging, rel)
        val dst = new org.apache.hadoop.fs.Path(target, rel)
        fs.delete(dst, true)
        if (fs.exists(src)) {
          fs.mkdirs(dst.getParent)
          if (!fs.rename(src, dst)) throw new java.io.IOException(
            s"pruned upsert: rename $src -> $dst failed")
        }
      }
      fs.delete(staging, true)
    } else {
      // empty batch: still run the (empty) observed frame so observe_cols
      // metrics report zeros instead of hanging unresolved
      observed(data.limit(0)).foreach(_ => ())
    }
    if (out.manifest) writeManifest(spark, target, out)
  }

  /** Small-file compaction — the table-maintenance pass every
    * incremental/streaming sink eventually needs: `refresh: incremental`
    * appends a few files per run, and after thousands of runs a 100 TB
    * table is millions of KB-files whose per-file open/footer cost
    * dominates every scan. Compaction rewrites the SAME bytes as `nFiles`
    * files.
    *
    * Shape: one read → `coalesce(nFiles)` → staged write → atomic swap.
    * `coalesce` (not `repartition`) narrows existing partitions with NO
    * shuffle — the rewrite streams source files into output files at IO
    * speed. The staging write fully materializes BEFORE the target is
    * deleted (the A15 publish contract), so a failed compaction leaves
    * the fragmented-but-correct table in place; rerunning is always safe
    * because the operation is idempotent on content. Partition-pruned
    * variants (compact one hot partition) fall out of calling this on the
    * partition directory. */
  def compact(spark: SparkSession, location: String, format: String,
              nFiles: Int, options: Map[String, String] = Map.empty): Unit = {
    require(nFiles > 0, "compact: nFiles must be positive")
    val target = new org.apache.hadoop.fs.Path(location)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(target)) throw new graft.config.ConfigError(
      s"compact: target '$location' does not exist")
    // A versioned root compacts THROUGH the protocol: read the latest
    // snapshot, rewrite as nFiles, publish as the next overwrite commit.
    // Crash-safe by construction (a failed compaction is an uncommitted
    // version), readers pinned to older versions unaffected, and the
    // fragmented history reclaimable later via vacuumVersions. A flat
    // rewrite here would destroy the _graft_log layout.
    if (fs.exists(new org.apache.hadoop.fs.Path(target, "_graft_log"))) {
      val v = VersionedTable.commit(spark, location,
        VersionedTable.read(spark, location, None, format,
          graft.sources.Sources.mapOptions(options)).coalesce(nFiles),
        "overwrite", format, graft.sources.Sources.mapOptions(options),
        // recompute the zone maps the table tracks — a rewrite that
        // dropped them would silently kill every pruned read downstream
        statsColumns = VersionedTable.trackedStatsColumns(spark, location))
      graft.log.Log.info("compacted versioned table",
        "location" -> location, "committed" -> s"v$v")
      return
    }
    // A Hive-partitioned root would silently FLATTEN under this rewrite:
    // the scan discovers `col=value` dirs as a data column, but the
    // coalesce+write emits flat files, losing the directory layout that
    // retain and partition pruning depend on. Compact partitions one at
    // a time (point this at the partition directory), as the scaladoc
    // prescribes — a partitioned root is a named error, not data rot.
    // (Pointer-layout tables check the CURRENT generation, where the
    // partition dirs actually live.)
    val readPath = resolveDataPath(spark, location)
    val partDirs = fs.listStatus(new org.apache.hadoop.fs.Path(readPath))
      .filter(st => st.isDirectory && st.getPath.getName.contains("="))
    if (partDirs.nonEmpty) throw new graft.config.ConfigError(
      s"compact: '$location' is a partitioned table root " +
        s"(found ${partDirs.head.getPath.getName}); compact each partition " +
        "directory instead — rewriting the root would flatten the layout")
    val compacted = spark.read.format(format)
      .options(graft.sources.Sources.mapOptions(options))
      .load(readPath)
      .coalesce(nFiles)
    stagedPublish(spark, target, fs, format, "compact") { dir =>
      compacted.write.format(format)
        .options(graft.sources.Sources.mapOptions(options))
        .mode(SaveMode.Overwrite)
        .save(dir.toString)
    }
  }

  /** Staging-debris vacuum: every staged publish ([[write]]'s overwrite
    * path, [[compact]]) stages into a sibling `.<name>.__staging__`
    * directory and renames on success — so a run killed mid-stage
    * leaves an orphan that holds dead bytes forever (the A15 contract
    * protects the TARGET, not the scratch). `vacuum` deletes every
    * `*.__staging__` entry directly under `location` WHOSE LIVE TABLE
    * EXISTS. The exception is the point, not a nicety: compact's swap
    * deletes the target before the rename, so a crash in that window
    * leaves the staging dir holding the ONLY copy of the data — a
    * vacuum that matched on name alone would turn the recoverable
    * crash into permanent loss. Such recovery candidates are left in
    * place (finish the publish by renaming, then vacuum).
    *
    * Pointer-layout tables (overwrite-only deployments) leave a second
    * debris class: a GENERATION written by a writer that crashed before
    * its pointer publish. Winners never purge unreferenced generations
    * (one may be a concurrent in-flight publish), so vacuum reclaims
    * them here — but only past a TTL (`spark.graft.vacuum.gen.ttl.ms`,
    * default 1h, the lease discipline the coordinator already uses):
    * the generation name embeds its creation timestamp, and a gen both
    * unreferenced and older than the TTL can only be crash debris.
    * Checked at `location` itself and one level down (tables under a
    * warehouse dir), matching the staging-debris scope.
    *
    * Scale shape: one directory listing + per-orphan recursive delete —
    * namespace-only, cost ∝ orphan count. Returns the deleted names. */
  def vacuum(spark: SparkSession, location: String): Seq[String] = {
    val target = new org.apache.hadoop.fs.Path(location)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(target)) throw new graft.config.ConfigError(
      s"vacuum: target '$location' does not exist")
    val orphans = fs.listStatus(target)
      .filter(st => st.isDirectory && st.getPath.getName.endsWith(".__staging__"))
      .map(_.getPath)
      .filter { p =>
        // `.name.__staging__` publishes to sibling `name`; delete only
        // when that live copy exists
        val live = new org.apache.hadoop.fs.Path(target,
          p.getName.stripPrefix(".").stripSuffix(".__staging__"))
        fs.exists(live)
      }
    orphans.foreach(p => fs.delete(p, true))
    val ttl = spark.conf.getOption("spark.graft.vacuum.gen.ttl.ms")
      .map(_.toLong).getOrElse(3600000L)
    val now = System.currentTimeMillis()
    val tables = target +: fs.listStatus(target)
      .filter(_.isDirectory).map(_.getPath).toSeq
    val genOrphans = tables.filter(t => fs.exists(ptrDir(t))).flatMap { t =>
      val referenced =
        try fs.listStatus(ptrDir(t))
          .flatMap(st => genOf(fs, st.getPath)).toSet
        catch { case _: java.io.FileNotFoundException => Set.empty[String] }
      val gens =
        try fs.listStatus(genRoot(t)).map(_.getPath)
        catch { case _: java.io.FileNotFoundException => Array.empty[org.apache.hadoop.fs.Path] }
      gens.filter { g =>
        // age from BOTH the creation timestamp in the name AND the
        // newest entry inside — an in-flight slow write keeps refreshing
        // the latter, so a long rewrite is not mistaken for crash debris
        // (the publish-side exists() check is the belt for a TTL still
        // shorter than a write + pause)
        def newestInside: Long =
          try fs.listStatus(g).map(_.getModificationTime).foldLeft(0L)(math.max)
          catch { case _: java.io.IOException => 0L }
        !referenced(g.getName) && (g.getName match {
          case GenName(ts) => now - math.max(ts.toLong, newestInside) > ttl
          case _ => false
        })
      }
    }
    genOrphans.foreach(p => fs.delete(p, true))
    orphans.map(_.getName).toSeq ++ genOrphans.map(_.getName)
  }

  /** Partition-retention maintenance — the housekeeping twin of
    * [[compact]]: drop every `partitionCol=value` directory whose
    * (URL-decoded) value sorts lexicographically below `keepFrom`, the
    * `ALTER TABLE DROP PARTITION` of a path-partitioned lake table. For
    * ISO dates/timestamps — the usual retention key — lexicographic IS
    * chronological, so `keep_from: "2025-01-01"` expires everything
    * older.
    *
    * Scale shape: pure NAMESPACE operation — list the partition dirs,
    * delete the expired ones. Zero data read, zero rewrite, cost
    * proportional to partition count, not table bytes; this is the only
    * retention shape that works on a 100 TB table (filter-and-rewrite
    * would copy 99 weeks to expire one). Each directory delete is
    * all-or-nothing per partition and the pass is idempotent, so a crash
    * midway leaves extra-but-whole partitions that a rerun removes.
    * The null partition (`__HIVE_DEFAULT_PARTITION__`) is always KEPT:
    * rows with no retention-key value have no age to compare, and
    * silently deleting them is the wrong default for a destructive op.
    *
    * Returns the dropped partition-directory names (for logging/audit). */
  def retain(spark: SparkSession, location: String, partitionCol: String,
             keepFrom: String): Seq[String] = {
    val target = new org.apache.hadoop.fs.Path(location)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(target)) throw new graft.config.ConfigError(
      s"retain: target '$location' does not exist")
    val prefix = s"$partitionCol="
    val parts = fs.listStatus(target)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix))
      .map(_.getPath)
    if (parts.isEmpty) throw new graft.config.ConfigError(
      s"retain: no '$prefix*' partition directories under '$location' " +
        "(wrong partition_col, or the table is not partitioned by path)")
    val dropped = parts.filter { p =>
      // Spark URL-encodes partition values on write (space -> %20);
      // compare the decoded value, the same string a reader sees.
      val v = java.net.URLDecoder.decode(p.getName.stripPrefix(prefix), "UTF-8")
      v != "__HIVE_DEFAULT_PARTITION__" && v < keepFrom
    }
    dropped.foreach(p => fs.delete(p, true))
    dropped.map(_.getName).toSeq
  }

  /** Z-order clustering maintenance — the MULTI-column layout pass
    * [[shaped]]'s `sort_by` cannot be: a single-column sort gives
    * perfect pruning on that column and none on any other, while
    * interleaving the bits of k columns' range-bucketed values orders
    * rows along a space-filling Z-curve, so file and row-group min/max
    * stats stay tight on EVERY clustered column at once. A scan
    * filtering on any subset of the cluster keys skips most files —
    * the `OPTIMIZE ZORDER BY` of the table formats, re-expressed as a
    * plain staged rewrite.
    *
    * Shape: one stats aggregate (per-column min/max — map-side
    * combined, broadcast back as a single-row frame, never collected),
    * one narrow z-value projection, one range repartition on z (the
    * only shuffle, and exactly the parallelism-sized one the rewrite
    * needs), sort within partitions, staged write + atomic swap (the
    * [[compact]] publish contract: a failed clustering leaves the
    * unclustered-but-correct table in place; rerunning is idempotent
    * on content). Numeric/date/timestamp keys only — categorical keys
    * belong in `partition_keys`, not a Z-curve.
    *
    * Bits per column = min(16, 62/k): k=2 → 32-bit z-values, k=3 →
    * 48-bit; beyond ~4 columns the curve's locality (and any format's
    * ZORDER) degrades — that is inherent to Z-ordering, not this
    * implementation. */
  def clusterZOrder(spark: SparkSession, location: String, format: String,
                    clusterBy: Seq[String], nFiles: Int,
                    options: Map[String, String] = Map.empty): Unit =
    clusterCurve(spark, location, format, clusterBy, nFiles, "zorder", options)

  /** Hilbert-curve clustering — [[clusterZOrder]]'s locality upgrade
    * (same staged-rewrite + atomic-swap shape, same versioned-root and
    * partitioned-root guards): the Hilbert position replaces the bit
    * interleave, so consecutive file ranges cover compact axis-aligned
    * blobs instead of the Z-curve's quadrant jumps — tighter per-file
    * min/max on EVERY clustered column when the column ranges are
    * skewed (see [[graft.functions.HilbertIndex]]). */
  def clusterHilbert(spark: SparkSession, location: String, format: String,
                     clusterBy: Seq[String], nFiles: Int,
                     options: Map[String, String] = Map.empty): Unit =
    clusterCurve(spark, location, format, clusterBy, nFiles, "hilbert", options)

  private def clusterCurve(spark: SparkSession, location: String, format: String,
                           clusterBy: Seq[String], nFiles: Int, curve: String,
                           options: Map[String, String]): Unit = {
    require(nFiles > 0, "cluster: files must be positive")
    require(clusterBy.size >= 2,
      "cluster: needs >= 2 cluster_by columns (one column is sort_by)")
    val target = new org.apache.hadoop.fs.Path(location)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(target)) throw new graft.config.ConfigError(
      s"cluster: target '$location' does not exist")
    // Versioned roots cluster THROUGH the protocol, like compact: the
    // z-ordered rewrite publishes as the next overwrite commit.
    if (fs.exists(new org.apache.hadoop.fs.Path(target, "_graft_log"))) {
      val df0 = VersionedTable.read(spark, location, None, format,
        graft.sources.Sources.mapOptions(options))
      val cols = df0.columns
      val v = VersionedTable.commit(spark, location,
        curveOrdered(df0, clusterBy, curve)
          .repartitionByRange(nFiles, org.apache.spark.sql.functions.col("__z"))
          .sortWithinPartitions("__z")
          .select(cols.map(org.apache.spark.sql.functions.col): _*),
        "overwrite", format, graft.sources.Sources.mapOptions(options),
        // keep the tracked zone maps alive through the rewrite (and a
        // z-ordered rewrite is exactly what makes them sharp)
        statsColumns = VersionedTable.trackedStatsColumns(spark, location))
      graft.log.Log.info("clustered versioned table",
        "location" -> location, "committed" -> s"v$v")
      return
    }
    // Same guard as compact: rewriting a Hive-partitioned root would
    // flatten the directory layout. Cluster partition-by-partition.
    val readPath = resolveDataPath(spark, location)
    val partDirs = fs.listStatus(new org.apache.hadoop.fs.Path(readPath))
      .filter(st => st.isDirectory && st.getPath.getName.contains("="))
    if (partDirs.nonEmpty) throw new graft.config.ConfigError(
      s"cluster: '$location' is a partitioned table root " +
        s"(found ${partDirs.head.getPath.getName}); cluster each partition " +
        "directory instead — rewriting the root would flatten the layout")
    val df = spark.read.format(format)
      .options(graft.sources.Sources.mapOptions(options)).load(readPath)
    val cols = df.columns
    stagedPublish(spark, target, fs, format, "cluster") { dir =>
      curveOrdered(df, clusterBy, curve)
        .repartitionByRange(nFiles, org.apache.spark.sql.functions.col("__z"))
        .sortWithinPartitions("__z")
        .select(cols.map(org.apache.spark.sql.functions.col): _*)
        .write.format(format).options(graft.sources.Sources.mapOptions(options))
        .mode(SaveMode.Overwrite)
        .save(dir.toString)
    }
  }

  /** The frame plus its space-filling-curve position as `__z`: each
    * cluster column min/max-scales into 2^bits buckets (stats broadcast
    * as a single-row frame), then the curve maps the bucket vector to a
    * 1-D position — `zorder` interleaves the bucket bits; `hilbert`
    * takes the unit-step curve ([[graft.functions.HilbertIndex]]),
    * better locality at skewed aspect ratios. Shared by
    * [[clusterZOrder]] / [[clusterHilbert]] and the layout asserts in
    * tests/queries. */
  private[graft] def zOrdered(df: DataFrame, clusterBy: Seq[String]): DataFrame =
    curveOrdered(df, clusterBy, "zorder")
  private[graft] def hilbertOrdered(df: DataFrame, clusterBy: Seq[String]): DataFrame =
    curveOrdered(df, clusterBy, "hilbert")

  private[graft] def curveOrdered(df: DataFrame, clusterBy: Seq[String],
                                  curve: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val bits = math.min(16, 62 / clusterBy.size)
    def asD(c: String) = df.schema(c).dataType match {
      case DateType => df.col(c).cast("timestamp").cast("double")
      case _: TimestampType | _: TimestampNTZType => df.col(c).cast("double")
      case _: NumericType => df.col(c).cast("double")
      case other => throw new graft.config.ConfigError(
        s"cluster: column '$c' has type ${other.simpleString} " +
          "(numeric/date/timestamp only — categorical keys belong in partition_keys)")
    }
    clusterBy.foreach { c =>
      if (!df.columns.contains(c)) throw new graft.config.ConfigError(
        s"cluster: column '$c' not in table schema ${df.columns.mkString("[", ",", "]")}")
      asD(c) // type check up front, before any IO
    }
    val stats = df.agg(
      min(asD(clusterBy.head)).as(s"__mn_0"),
      (max(asD(clusterBy.head)).as(s"__mx_0") +:
        clusterBy.tail.zipWithIndex.flatMap { case (c, i) =>
          Seq(min(asD(c)).as(s"__mn_${i + 1}"), max(asD(c)).as(s"__mx_${i + 1}"))
        }): _*)
    val maxB = (1L << bits) - 1
    val buckets = clusterBy.zipWithIndex.map { case (c, i) =>
      val span = col(s"__mx_$i") - col(s"__mn_$i")
      when(asD(c).isNull || span <= 0d, lit(0L))
        .otherwise(least(
          floor((asD(c) - col(s"__mn_$i")) / span * maxB).cast("long"), lit(maxB)))
    }
    val pos = curve match {
      case "zorder" =>
        (0 until bits).flatMap { b =>
          buckets.zipWithIndex.map { case (c, i) =>
            shiftleft(shiftright(c, b).bitwiseAND(lit(1L)), b * buckets.size + i)
          }
        }.reduce(_ bitwiseOR _)
      case "hilbert" =>
        graft.sql.GraftExtensions.ensureRegistered(df.sparkSession)
        call_function("hilbert_index", array(buckets: _*), lit(bits))
      case other => throw new graft.config.ConfigError(
        s"cluster: unknown curve '$other' (supported: zorder, hilbert)")
    }
    df.crossJoin(broadcast(stats)).withColumn("__z", pos)
      .drop((0 until clusterBy.size).flatMap(i => Seq(s"__mn_$i", s"__mx_$i")): _*)
  }

  private def runCatalog(spark: SparkSession, data: DataFrame, out: OutputTable,
                         database: String, governed: Boolean): Unit = {
    // A14 catalog sink; `governed` (A15, Lake Formation transactions)
    // maps to Spark's job-level atomic commit — the observable
    // contract (no partial output on failure) is tested, not the AWS
    // API (SURVEY §7 risk 1).
    val _ = governed
    val table = s"$database.${out.name}"
    if (out.partitionKeys.nonEmpty && out.refresh == Refresh.Full &&
        spark.catalog.tableExists(table)) {
      // Dynamic partition overwrite only takes effect on the
      // insertInto path — saveAsTable(Overwrite) drops and recreates
      // the WHOLE table, silently rewriting every partition of a
      // 100 TB target on a daily refresh. insertInto is
      // position-based, so align columns to the table schema first.
      data.select(spark.table(table).columns.map(data.col): _*)
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .insertInto(table)
    } else {
      val w = data.write.mode(mode(out.refresh))
      val wb = if (out.bucketKeys.nonEmpty) {
        // shuffle-once storage: later joins/aggs on the bucket key
        // read co-located buckets with no Exchange (config-surface
        // form of sources/Bucketed; parse-time validation guarantees
        // a catalog target and no partition_keys here)
        w.bucketBy(out.buckets.get, out.bucketKeys.head, out.bucketKeys.tail: _*)
          .sortBy(out.bucketKeys.head, out.bucketKeys.tail: _*)
      } else w
      if (out.partitionKeys.nonEmpty) {
        wb.partitionBy(out.partitionKeys: _*).format(out.format).saveAsTable(table)
      } else wb.format(out.format).saveAsTable(table)
    }
  }
}
