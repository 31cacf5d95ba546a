package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.config._
import graft.sources.Sources
import graft.sinks.Sinks
import graft.util.Json

/** Orchestration core — the reference's whole query lifecycle
  * (`glue/glue_etl_framework.py:136-275`, SURVEY.md §3) re-expressed as
  * pure driver-side Spark: load inputs → register temp views → run the
  * single SELECT → shape → write. One lazy plan, one action; Catalyst owns
  * optimization and physical execution end to end (SURVEY §4: the
  * reference has no optimizer of its own either — parity needs zero
  * custom rules).
  */
object Engine {

  /** A4: every input registered as a temp view under its config name
    * (`glue_etl_framework.py:57-61`). Locations/options are interpolated
    * with the pipeline variables first (A20). Inputs flagged
    * `incremental_source: true` are read through the job's
    * [[graft.bookmarks.BookmarkStore]] (A22): only files newer than the
    * stored high watermark, like Glue job bookmarks. */
  def registerInputs(spark: SparkSession, job: JobSpec,
                     vars: Map[String, String], pipeline: String): Map[String, DataFrame] =
    registerInputsWithCommits(spark, job, vars, pipeline)._1

  /** As [[registerInputs]], also returning the bookmark commits to run
    * after a successful sink write (empty when no incremental inputs). */
  private[engine] def registerInputsWithCommits(
      spark: SparkSession, job: JobSpec, vars: Map[String, String],
      pipeline: String): (Map[String, DataFrame], Seq[() => Unit]) = {
    val commits = Seq.newBuilder[() => Unit]
    // The parse-time duplicate check compares raw config strings; two
    // distinct {var} templates can resolve to the SAME physical path, and
    // one input's per-run overwrite would then destroy the other's
    // captured rejects. Re-check here, where the resolved paths are known.
    locally {
      // qualify each path the way the writer's FileSystem will (scheme
      // default, //-collapse, . segments) so /tmp/q, /tmp//q and
      // file:///tmp/q all count as ONE path
      val hc = spark.sparkContext.hadoopConfiguration
      val resolvedQ = job.inputTables.flatMap(_.quarantine.map { q =>
        val p = new org.apache.hadoop.fs.Path(Interpolate(q, vars))
        p.getFileSystem(hc).makeQualified(p).toString
      })
      val dup = resolvedQ.groupBy(identity).collect { case (p, ps) if ps.size > 1 => p }
      if (dup.nonEmpty) throw new ConfigError(
        s"inputs share quarantine path(s) after variable interpolation: ${dup.mkString(", ")} — give each input its own")
    }
    val views = job.inputTables.map { t =>
      val resolved = t.source match {
        case SourceSpec.File(loc, fmt, opts, schema) =>
          SourceSpec.File(Interpolate(loc, vars), fmt,
            opts.map { case (k, v) => k -> Interpolate(v, vars) }, schema)
        case SourceSpec.Catalog(db, tbl) =>
          SourceSpec.Catalog(Interpolate(db, vars), Interpolate(tbl, vars))
        case SourceSpec.Jdbc(url, db, tbl, opts) =>
          SourceSpec.Jdbc(Interpolate(url, vars), Interpolate(db, vars),
            Interpolate(tbl, vars), opts.map { case (k, v) => k -> Interpolate(v, vars) })
        case SourceSpec.Versioned(loc, fmt, opts, asOf, prune, asOfTs, br) =>
          SourceSpec.Versioned(Interpolate(loc, vars), fmt,
            opts.map { case (k, v) => k -> Interpolate(v, vars) }, asOf, prune,
            asOfTs, br.map(Interpolate(_, vars)))
      }
      val df = (t.incrementalSource, resolved) match {
        case (true, SourceSpec.File(loc, fmt, opts, _)) =>
          val store = bookmarks(spark, job, vars)
          val plan = store.plan(s"$pipeline:${t.name}", loc)
          graft.log.Log.info("incremental source planned", "table" -> t.name,
            "new_files" -> plan.files.size.toString)
          commits += (() => store.commit(plan))
          store.read(plan, fmt, graft.sources.Sources.mapOptions(opts))
        case (true, _) =>
          // bookmarks track file mtimes; silently full-scanning a catalog
          // or JDBC source would duplicate history on every appending run
          throw new ConfigError(
            s"input '${t.name}': incremental_source is only supported for file sources")
        case _ => (t.quarantine, resolved) match {
          case (Some(q), f: SourceSpec.File) =>
            Sources.loadWithQuarantine(spark, f, Interpolate(q, vars))
          case _ => Sources.load(spark, resolved)
        }
      }
      df.createOrReplaceTempView(t.name)
      t.name -> df
    }.toMap
    (views, commits.result())
  }

  private def bookmarks(spark: SparkSession, job: JobSpec,
                        vars: Map[String, String]): graft.bookmarks.BookmarkStore =
    new graft.bookmarks.BookmarkStore(spark,
      Interpolate(job.bookmarkPath.getOrElse(throw new ConfigError(
        "inputs with incremental_source: true need job.bookmark_path")), vars))

  /** A5+A6: resolve the SQL text (inline beats file when both are given,
    * `README.md:59-60`), interpolate `{vars}`, dispatch to Catalyst.
    * Deliberately no whitespace-collapse / quote-swap (Appendix Q1/Q2). */
  def resolveSql(spark: SparkSession, job: JobSpec, vars: Map[String, String]): String = {
    val raw = job.sql.orElse(job.sqlFile.map(f => readTextFile(spark, Interpolate(f, vars))))
      .getOrElse(throw new ConfigError("spark-sql job needs `sql` or `sql_file`"))
    Interpolate(raw, vars)
  }

  /** A7: SQL-from-file via Hadoop FS — works for file://, hdfs://, s3a://
    * alike (the reference is boto3/S3-only, `glue_etl_framework.py:141-163`). */
  def readTextFile(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  /** Full spark-sql job for one pipeline: the reference's
    * `run_spark_sql_job` (`glue_etl_framework.py:136-275`). Returns the
    * result frame (pre-sink) for inspection/testing. `extraVars` (CLI
    * `--var k=v`) overlay the pipeline's configured variables. After a
    * successful sink write, incremental-source watermarks are committed —
    * the analog of the reference's trailing `job.commit()` (`:438`): a
    * failed run advances nothing, so the next run reprocesses. */
  def runSparkSqlJob(spark: SparkSession, job: JobSpec, pipeline: String,
                     extraVars: Map[String, String] = Map.empty): DataFrame = {
    val vars = job.varsFor(pipeline) ++ extraVars + ("pipeline_name" -> pipeline)
    if (job.streaming) return runStreamingSqlJob(spark, job, vars)
    // MATERIALIZED VIEW short-circuit: fingerprint the versioned inputs'
    // latest versions BEFORE registering anything or building the SQL
    // plan — when nothing moved since the recorded state, the whole
    // pipeline is skipped for the cost of a few version listings.
    val mvPlan: Option[(String, String)] =
      job.outputTable.filter(_.materialized).map { out0 =>
        val loc = out0.target match {
          case TargetSpec.File(l) => Interpolate(l, vars)
          case _ => throw new ConfigError(
            s"output '${out0.name}': materialized requires a file target")
        }
        val sources = job.inputTables.collect {
          case t if t.source.isInstanceOf[SourceSpec.Versioned] =>
            (t.name, Interpolate(
              t.source.asInstanceOf[SourceSpec.Versioned].location, vars))
        }
        (loc, graft.sinks.MaterializedView.fingerprint(spark, sources))
      }
    mvPlan.foreach { case (loc, fp) =>
      graft.sinks.MaterializedView.currentState(spark, loc) match {
        case Some((oldFp, v))
          if oldFp == fp &&
            graft.sinks.VersionedTable.versions(spark, loc).contains(v) =>
          graft.log.Log.info("materialized view fresh — pipeline skipped",
            "output" -> job.outputTable.get.name,
            "fingerprint" -> fp, "version" -> s"v$v")
          // replay with the SAME read parameters the stale-path commit
          // used (format/options) and pinned to the RECORDED version —
          // a concurrent later commit must not change what the fresh
          // short-circuit returns
          val mvOut = job.outputTable.get
          return graft.sinks.VersionedTable.read(
            spark, loc, asOf = Some(v),
            format = mvOut.format, options = mvOut.options)
        case _ => () // stale or first run: fall through to the pipeline
      }
    }
    graft.log.Log.info("registering inputs", "n_inputs" -> job.inputTables.size.toString)
    val (_, bookmarkCommits) = registerInputsWithCommits(spark, job, vars, pipeline)
    val sqlText = resolveSql(spark, job, vars)
    // DML surface (MERGE INTO / UPDATE / DELETE FROM on a versioned
    // input): routed to the table format's row-level operations — one
    // atomic commit, no output_table ([[SqlDml]]). Bookmarks commit
    // after the DML lands, same as after a sink write.
    if (SqlDml.isDml(sqlText)) {
      val snapshot = SqlDml.execute(spark, job, vars, sqlText)
      bookmarkCommits.foreach(_.apply())
      return snapshot
    }
    val result = spark.sql(sqlText)
    job.outputTable.foreach { out0 =>
      val out = out0.copy(
        name = Interpolate(out0.name, vars),
        target = out0.target match {
          case TargetSpec.File(loc) => TargetSpec.File(Interpolate(loc, vars))
          case TargetSpec.Jdbc(url, tbl) =>
            TargetSpec.Jdbc(Interpolate(url, vars), Interpolate(tbl, vars))
          case c => c
        })
      // dq_checks gate the publish: one aggregate pass over the result;
      // a violation throws BEFORE the sink is touched (Sinks.DataQuality).
      // dq gates what is PUBLISHED: the checks see the masked frame
      out.dqChecks.foreach(graft.sinks.DataQuality.enforce(
        Sinks.applyMask(result, out), _, out.name))
      graft.log.Log.info("writing output", "output" -> out.name)
      // Observation metrics ride the SINK action itself — row count and
      // per-column non-null counts accumulate on the executors during
      // the write, so a 100 TB publish gets audited without a second
      // scan. The Observation attaches inside Sinks.write to the frame
      // the sink executes exactly once (for upsert/scd2 the merged
      // frame — observing `result` here would put the metrics node on a
      // subtree the merge plan references 2-3 times and multiply counts).
      val metrics = Sinks.write(spark, result, out)
      if (metrics.nonEmpty) {
        graft.log.Log.info("observed metrics",
          metrics.map { case (k, v) => k -> String.valueOf(v) }: _*)
        out.target match {
          case TargetSpec.File(location) =>
            val dir = new org.apache.hadoop.fs.Path(location)
            Json.writeFile(
              dir.getFileSystem(spark.sparkContext.hadoopConfiguration),
              new org.apache.hadoop.fs.Path(dir, "_graft_metrics.json"),
              Json.fields(metrics))
          case _ => ()
        }
      }
      // MV bookkeeping: record the fingerprint taken BEFORE the SQL ran
      // against the version the sink just committed
      mvPlan.foreach { case (loc, fp) =>
        val v = graft.sinks.VersionedTable.versions(spark, loc).last
        graft.sinks.MaterializedView.recordState(spark, loc, fp, v)
        graft.log.Log.info("materialized view recorded",
          "output" -> out.name, "fingerprint" -> fp, "version" -> s"v$v")
      }
      bookmarkCommits.foreach(_.apply())
    }
    result
  }

  /** `job.streaming: available_now` — the SAME declared pipeline (views →
    * SQL → sink) executed as one bounded Structured Streaming drain:
    * file inputs become `readStream` sources under the job checkpoint,
    * the SELECT runs incrementally, and every micro-batch goes through
    * the ordinary batch sink machinery (foreachBatch → [[Sinks.write]],
    * so partitioned incremental append behaves identically). Re-running
    * with no new input files emits nothing — checkpointed file tracking
    * is the streaming analog of A22 job bookmarks, with exactly-once
    * instead of mtime-watermark semantics. The parser has already
    * guaranteed: file-only inputs with explicit schemas, a file target
    * with `refresh: incremental`, and a checkpoint location. */
  private def runStreamingSqlJob(spark: SparkSession, job: JobSpec,
                                 vars: Map[String, String]): DataFrame = {
    graft.log.Log.info("registering streaming inputs",
      "n_inputs" -> job.inputTables.size.toString)
    job.inputTables.foreach { t =>
      val f = t.source match {
        case SourceSpec.File(loc, fmt, opts, schema) =>
          SourceSpec.File(Interpolate(loc, vars), fmt,
            opts.map { case (k, v) => k -> Interpolate(v, vars) }, schema)
        case _ => throw new ConfigError(
          s"input '${t.name}': streaming supports file sources only")
      }
      Sources.loadStream(spark, f).createOrReplaceTempView(t.name)
    }
    val result = spark.sql(resolveSql(spark, job, vars))
    val out0 = job.outputTable.getOrElse(throw new ConfigError(
      "streaming spark-sql job needs an output_table"))
    val out = out0.copy(
      name = Interpolate(out0.name, vars),
      target = out0.target match {
        case TargetSpec.File(loc) => TargetSpec.File(Interpolate(loc, vars))
        case other => other
      })
    val ckpt = Interpolate(job.checkpointLocation.getOrElse(
      throw new ConfigError("streaming jobs need job.checkpoint_location")), vars)
    graft.log.Log.info("draining stream to output", "output" -> out.name)
    graft.streaming.Streams.runToSink(spark, result, out, ckpt)
    result
  }

  /** Deployment selection of the versioned-table commit-publish
    * primitive ([[graft.sinks.CommitCoordinator]]) — a Spark conf so
    * `job.spark_config` / `--conf` pick it without code:
    * `spark.graft.commit.coordinator = rename | lockfile` (+ optional
    * `spark.graft.commit.lockfile.settle.ms` and
    * `spark.graft.commit.lockfile.lease.ms`). Unset keeps the current
    * process-wide coordinator (default: rename).
    *
    * Config-time validation (r11 ADVICE): the settle window is the
    * lease election's ONE safety assumption — it must exceed store
    * visibility lag + writer clock skew, so a tiny value silently
    * reintroduces the two-winner manifest clobber the coordinator
    * exists to prevent. Deployments get a 50 ms floor (named error,
    * not a constructor stack trace); the lease must dominate the
    * settle (> 2x, same check the constructor `require`s) and is now
    * configurable for stores with slower GC/pause profiles. Tests
    * construct the coordinator directly and may use shorter windows —
    * this floor guards the CONFIG surface a deployment actually uses. */
  private def configureCommitCoordinator(spark: SparkSession): Unit =
    spark.conf.getOption("spark.graft.commit.coordinator").foreach {
      case "rename" =>
        graft.sinks.VersionedTable.setCommitCoordinator(
          graft.sinks.RenameCommitCoordinator)
      case "lockfile" =>
        def ms(key: String, default: Long): Long =
          spark.conf.getOption(key).map { v =>
            try v.trim.toLong catch {
              case _: NumberFormatException =>
                throw new ConfigError(s"$key: '$v' is not a millisecond count")
            }
          }.getOrElse(default)
        val settle = ms("spark.graft.commit.lockfile.settle.ms", 150L)
        val lease = ms("spark.graft.commit.lockfile.lease.ms", 30000L)
        if (settle < 50L) throw new ConfigError(
          s"spark.graft.commit.lockfile.settle.ms: $settle ms is below the " +
            "50 ms floor — the settle window must exceed store visibility " +
            "lag + writer clock skew, or two writers can both win a version")
        if (lease <= 2 * settle) throw new ConfigError(
          s"spark.graft.commit.lockfile.lease.ms: $lease ms must exceed " +
            s"2x the settle window (${2 * settle} ms) — a lease a single " +
            "election can outlive makes crashed-writer GC unsafe")
        graft.sinks.VersionedTable.setCommitCoordinator(
          new graft.sinks.LockFileCommitCoordinator(settle, lease))
      case other => throw new ConfigError(
        s"spark.graft.commit.coordinator: unknown coordinator '$other' " +
          "(supported: rename, lockfile)")
    }

  /** Top-level dispatch on job.type (`glue_etl_framework.py:417-431`). */
  def run(spark: SparkSession, job: JobSpec, pipeline: String,
          extraVars: Map[String, String] = Map.empty): Option[DataFrame] = {
    configureCommitCoordinator(spark)
    job.jobType match {
      case JobType.SparkSql => Some(runSparkSqlJob(spark, job, pipeline, extraVars))
      case JobType.Script =>
        graft.script.ScriptRunner.run(spark, job, job.varsFor(pipeline) ++ extraVars); None
      case JobType.Maintenance =>
        val vars = job.varsFor(pipeline) ++ extraVars + ("pipeline_name" -> pipeline)
        val m = job.maintenance.get // parser guarantees presence + per-action fields
        val location = Interpolate(m.location, vars)
        m.action match {
          case "compact" =>
            graft.log.Log.info("compacting target",
              "location" -> location, "files" -> m.files.get.toString)
            Sinks.compact(spark, location, m.format, m.files.get, m.options)
            None
          case "profile" =>
            val output = Interpolate(m.output.get, vars)
            graft.log.Log.info("profiling target",
              "location" -> location, "output" -> output)
            val stats = graft.sinks.DataQuality.profile(
              spark.read.format(m.format)
                .options(graft.sources.Sources.mapOptions(m.options)).load(location))
            stats.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(output)
            Some(stats)
          case "retain" =>
            val keepFrom = Interpolate(m.keepFrom.get, vars)
            val dropped = Sinks.retain(spark, location, m.partitionCol.get, keepFrom)
            graft.log.Log.info("retention applied", "location" -> location,
              "partition_col" -> m.partitionCol.get, "keep_from" -> keepFrom,
              "dropped" -> dropped.mkString(","))
            None
          case "vacuum" =>
            val removed = Sinks.vacuum(spark, location)
            graft.log.Log.info("vacuum applied", "location" -> location,
              "removed" -> removed.mkString(","))
            None
          case "delete" =>
            // row-level DELETE via deletion vectors: matching rows become
            // (file, position) sidecar entries — zero data files rewritten
            val v = graft.sinks.VersionedTable.deleteWhere(
              spark, location, Interpolate(m.where.get, vars), m.format, m.options)
            graft.log.Log.info("versioned delete applied",
              "location" -> location, "version" -> s"v$v",
              "where" -> m.where.get)
            None
          case "update" =>
            // row-level UPDATE: old positions join the DV, updated
            // images append — one atomic commit, zero files rewritten
            val v = graft.sinks.VersionedTable.updateWhere(
              spark, location, Interpolate(m.where.get, vars),
              m.set.map { case (c, e) => (c, Interpolate(e, vars)) },
              m.format, m.options)
            graft.log.Log.info("versioned update applied",
              "location" -> location, "version" -> s"v$v",
              "where" -> m.where.get)
            None
          case "restore" =>
            val target = Interpolate(m.toVersion.get, vars).trim.toLong
            // metadata-only: no format/options — only manifests move
            val v = graft.sinks.VersionedTable.restore(spark, location, target)
            graft.log.Log.info("versioned restore applied",
              "location" -> location, "restored_to" -> s"v$target",
              "version" -> s"v$v")
            None
          case "compact_deletes" =>
            val (v, n) = graft.sinks.VersionedTable.compactDeletes(
              spark, location, m.minDeletedFraction.getOrElse(0.3),
              m.format, m.options)
            graft.log.Log.info("delete compaction applied",
              "location" -> location, "version" -> s"v$v",
              "files_rewritten" -> n.toString)
            None
          case "create_branch" =>
            val from = m.keepFrom.map(v => Interpolate(v, vars).trim.toLong)
            val base = graft.sinks.VersionedTable.createBranch(
              spark, location, m.branch.get, from)
            graft.log.Log.info("branch created", "location" -> location,
              "branch" -> m.branch.get, "base" -> s"v$base")
            None
          case "publish_branch" =>
            val v = graft.sinks.VersionedTable.publishBranch(
              spark, location, m.branch.get)
            graft.log.Log.info("branch published", "location" -> location,
              "branch" -> m.branch.get, "version" -> s"v$v")
            None
          case "rebase_branch" =>
            val nb = graft.sinks.VersionedTable.rebaseBranch(
              spark, location, m.branch.get)
            graft.log.Log.info("branch rebased", "location" -> location,
              "branch" -> m.branch.get, "new_base" -> s"v$nb")
            None
          case "drop_branch" =>
            graft.sinks.VersionedTable.dropBranch(spark, location, m.branch.get)
            graft.log.Log.info("branch dropped", "location" -> location,
              "branch" -> m.branch.get)
            None
          case "version_vacuum" =>
            // reclaim versioned-table history: manifests below keep_from
            // (or below the keep_last'th-newest version) and every
            // unreferenced data file / stats sidecar
            val keepFrom = m.keepFrom
              .map(v => Interpolate(v, vars).trim.toLong)
              .getOrElse {
                val vs = graft.sinks.VersionedTable.versions(spark, location)
                vs.takeRight(m.keepLast.get.toInt.max(1)).head
              }
            val removed = graft.sinks.VersionedTable.vacuumVersions(
              spark, location, keepFrom)
            graft.log.Log.info("version vacuum applied",
              "location" -> location, "keep_from" -> s"v$keepFrom",
              "removed" -> removed.size.toString)
            None
          case "history" =>
            val output = Interpolate(m.output.get, vars)
            val h = graft.sinks.VersionedTable.history(spark, location)
            h.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(output)
            graft.log.Log.info("history published",
              "location" -> location, "output" -> output)
            Some(h)
          case "cluster" =>
            graft.log.Log.info(s"${m.curve} clustering target",
              "location" -> location, "cluster_by" -> m.clusterBy.mkString(","),
              "files" -> m.files.get.toString, "curve" -> m.curve)
            if (m.curve == "hilbert")
              Sinks.clusterHilbert(spark, location, m.format, m.clusterBy,
                m.files.get, m.options)
            else
              Sinks.clusterZOrder(spark, location, m.format, m.clusterBy,
                m.files.get, m.options)
            None
        }
    }
  }

  /** A18: apply job.spark_config before use (builder passthrough). */
  def applySparkConfig(builder: SparkSession.Builder, job: JobSpec): SparkSession.Builder =
    job.sparkConfig.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
}

/** CLI entry mirroring the reference's `__main__` argument contract
  * (`glue_etl_framework.py:363-366`): --config <path> --pipeline <name>
  * [--var k=v ...]. CLI vars overlay the pipeline's configured variables
  * (`glue_etl_framework.py:413-415`). The config is read through a bare
  * Hadoop FileSystem (file://, hdfs://, s3a://) BEFORE any SparkSession
  * exists, so `job.spark_config` genuinely applies to the session that
  * runs the job — getOrCreate after a bootstrap session would silently
  * ignore it. */
object EtlMain {

  private[engine] final case class CliArgs(
      config: String, pipeline: String, vars: Map[String, String])

  private[engine] def parseArgs(args: Array[String]): CliArgs = {
    var config: Option[String] = None
    var pipeline = "default"
    val vars = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var i = 0
    def value(flag: String): String = {
      i += 1
      if (i >= args.length) throw new ConfigError(s"$flag requires a value")
      args(i)
    }
    while (i < args.length) {
      args(i) match {
        case "--config"   => config = Some(value("--config"))
        case "--pipeline" => pipeline = value("--pipeline")
        case "--var" =>
          val kv = value("--var")
          kv.split("=", 2) match {
            case Array(k, v) if k.nonEmpty => vars += k -> v
            case _ => throw new ConfigError(s"--var expects k=v, got '$kv'")
          }
        case other => throw new ConfigError(s"unknown argument '$other'")
      }
      i += 1
    }
    CliArgs(config.getOrElse(throw new ConfigError("--config <path> required")),
      pipeline, vars.toMap)
  }

  /** Read a text file through Hadoop FS without a SparkSession. */
  private[engine] def readConfigText(path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  def main(args: Array[String]): Unit = {
    val cli = parseArgs(args)
    val job = ConfigParser.parse(readConfigText(cli.config))
    graft.log.Log.setContext("job" -> job.name, "pipeline" -> cli.pipeline)
    graft.log.Log.info("job starting", "config" -> cli.config)
    val spark = Engine.applySparkConfig(
      SparkSession.builder()
        .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
        .config("spark.sql.shuffle.partitions",
          sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false"),
      job).getOrCreate()
    try {
      Engine.run(spark, job, cli.pipeline, cli.vars)
      graft.log.Log.info("job finished")
    } catch { case e: Throwable =>
      graft.log.Log.error("job failed", "error" -> String.valueOf(e.getMessage))
      throw e
    } finally spark.stop()
  }
}
