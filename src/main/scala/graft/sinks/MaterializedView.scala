package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.hadoop.fs.Path

import graft.util.Json

/** Version-aware MATERIALIZED VIEW over versioned-table sources: the MV
  * is itself a versioned table, plus a state record of the source
  * snapshot versions it was computed FROM. A refresh first compares the
  * sources' current latest versions against that record — metadata
  * listings only — and recomputes ONLY when some source moved. At
  * 100 TB this is the difference between a dashboard rollup that
  * re-reads the lake on every schedule tick and one that answers "no
  * upstream commit since last run" for the cost of a few directory
  * listings.
  *
  * Consistency: the fingerprint is taken BEFORE the compute reads its
  * sources, so a source commit racing the refresh makes the recorded
  * fingerprint stale-conservative — the next refresh sees a mismatch
  * and recomputes (never wrongly "fresh"). The state file is written
  * AFTER the MV commit: a crash between the two leaves a fresh MV with
  * stale state, which the next refresh idempotently overwrites. The MV
  * itself inherits the versioned protocol (snapshot isolation, time
  * travel over past refreshes, vacuum).
  */
object MaterializedView {

  private def statePath(root: Path) = new Path(root, "_graft_log/mv-state.json")

  /** Fingerprint of the sources' CURRENT latest versions:
    * `name=vN,name=vN,...` sorted by name (0 for a not-yet-created
    * source — a later bootstrap invalidates). */
  def fingerprint(spark: SparkSession, sources: Seq[(String, String)]): String =
    sources.sortBy(_._1).map { case (n, loc) =>
      s"$n=v${VersionedTable.versions(spark, loc).lastOption.getOrElse(0L)}"
    }.mkString(",")

  /** The recorded (fingerprint, mvVersion) of the last completed
    * refresh, if any. */
  def currentState(spark: SparkSession, location: String): Option[(String, Long)] = {
    val root = new Path(location)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = statePath(root)
    if (!fs.exists(p)) None
    else {
      val text = Json.readFile(fs, p)
      // a state torn by a crash mid-write reads as no state: recompute
      try Some(Json.read[Json.MvState](text)).map(s => (s.fingerprint, s.mv_version))
      catch { case _: java.io.IOException => None }
    }
  }

  /** Refresh the MV iff some source moved since the recorded state.
    * `compute` is by-name: a fresh MV never builds the plan, let alone
    * runs it. Returns (mvVersion, recomputed). */
  def refresh(spark: SparkSession, location: String,
              sources: Seq[(String, String)], compute: => DataFrame,
              format: String = "parquet",
              options: Map[String, String] = Map.empty,
              statsColumns: Seq[String] = Nil): (Long, Boolean) = {
    require(sources.nonEmpty, "materialized view: needs at least one source")
    val fp = fingerprint(spark, sources)
    val existing = currentState(spark, location)
    val mvVersions = VersionedTable.versions(spark, location)
    existing match {
      case Some((oldFp, v)) if oldFp == fp && mvVersions.contains(v) =>
        graft.log.Log.info("materialized view fresh",
          "location" -> location, "fingerprint" -> fp, "version" -> s"v$v")
        (v, false)
      case _ =>
        val v = VersionedTable.commit(spark, location, compute, "overwrite",
          format, options, statsColumns = statsColumns)
        recordState(spark, location, fp, v)
        graft.log.Log.info("materialized view refreshed",
          "location" -> location, "fingerprint" -> fp, "version" -> s"v$v")
        (v, true)
    }
  }

  /** Record a completed refresh (also used by the engine path, whose
    * commit goes through the ordinary sink machinery). Overwrites any
    * previous state — the record is a cache key, not history. */
  def recordState(spark: SparkSession, location: String,
                  fp: String, version: Long): Unit = {
    val root = new Path(location)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Json.writeFile(fs, statePath(root), Json.write(
      Json.MvState(fp, version, System.currentTimeMillis())))
  }

  /** INCREMENTAL VIEW MAINTENANCE for ADDITIVE grouped views over ONE
    * append-only versioned source — the IVM fast path: when every commit
    * since the last refresh is an append, the refresh reads ONLY the
    * appended rows ([[VersionedTable.changesBetween]] — file-level
    * metadata), aggregates the delta, and folds it into the existing MV
    * by key (sums and counts are additive). Work ∝ delta + |MV|, never
    * ∝ source: at 100 TB a daily refresh of a segment rollup reads the
    * day's files, not the lake.
    *
    * View contract: `SELECT keys, sum(expr) AS out..., count(*) AS n
    * GROUP BY keys` — `sums` maps output name → input SQL expression;
    * `countName` adds the row count (None to omit, though a view
    * without it cannot express averages downstream). Non-additive
    * aggregates (min over deletions, distinct) need the full recompute.
    *
    * Fallback ladder: fresh (no source movement) → zero work;
    * append-only movement → delta fold; any non-append commit in the
    * range (overwrite/merge/delete/update — changesBetween aborts) or
    * no recorded state → full recompute. Every path records the state
    * the NEXT refresh compares against. Returns (mvVersion, path) with
    * path ∈ {"fresh", "incremental", "full"}. */
  def refreshAdditive(spark: SparkSession, location: String,
                      sourceName: String, sourceLocation: String,
                      keyCols: Seq[String], sums: Map[String, String],
                      countName: Option[String] = Some("n_rows"),
                      format: String = "parquet",
                      options: Map[String, String] = Map.empty): (Long, String) =
    refreshAdditiveMulti(spark, location, Seq((sourceName, sourceLocation)),
      keyCols, sums, countName, format, options)

  /** Multi-source [[refreshAdditive]]: the view is the additive rollup
    * over the UNION of several versioned sources (schemas aligned by
    * name — the fact-union shape). Each source contributes its own
    * append delta; one source with a non-append movement sends the
    * whole refresh to full recompute (additivity is all-or-nothing). */
  def refreshAdditiveMulti(spark: SparkSession, location: String,
                           sources: Seq[(String, String)],
                           keyCols: Seq[String], sums: Map[String, String],
                           countName: Option[String] = Some("n_rows"),
                           format: String = "parquet",
                           options: Map[String, String] = Map.empty): (Long, String) = {
    import org.apache.spark.sql.functions._
    require(sources.nonEmpty, "refreshAdditive: needs at least one source")
    require(sources.map(_._1).distinct.size == sources.size,
      "refreshAdditive: source names must be unique")
    require(keyCols.nonEmpty, "refreshAdditive: needs grouping keys")
    require(sums.nonEmpty || countName.nonEmpty,
      "refreshAdditive: needs at least one measure")
    def viewOf(df: DataFrame): DataFrame = {
      val aggs = sums.toSeq.sortBy(_._1).map { case (out, e) =>
        sum(expr(e)).as(out) } ++
        countName.map(n => count(lit(1)).as(n))
      df.groupBy(keyCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
    }
    def unionAll(dfs: Seq[DataFrame]): DataFrame = dfs.reduceLeft(_.unionByName(_))
    def fullSnapshot: DataFrame = unionAll(sources.map { case (_, loc) =>
      VersionedTable.read(spark, loc, None, format, options) })
    val curVs: Map[String, Long] = sources.map { case (n, loc) =>
      n -> VersionedTable.versions(spark, loc).lastOption.getOrElse(
        throw new graft.config.ConfigError(
          s"refreshAdditive: source '$loc' has no committed versions"))
    }.toMap
    val fp = sources.map(_._1).sorted.map(n => s"$n=v${curVs(n)}").mkString(",")
    val mvVersions = VersionedTable.versions(spark, location)
    // parse a previous state back to per-source versions (same encoding)
    def parseFp(s: String): Option[Map[String, Long]] = {
      val parts = s.split(",").toSeq.map(_.split("=v", 2))
      if (parts.forall(_.length == 2) &&
        parts.map(_(0)).toSet == sources.map(_._1).toSet)
        scala.util.Try(parts.map(p => p(0) -> p(1).toLong).toMap).toOption
      else None
    }
    currentState(spark, location) match {
      case Some((oldFp, v)) if oldFp == fp && mvVersions.contains(v) =>
        graft.log.Log.info("additive MV fresh",
          "location" -> location, "fingerprint" -> fp)
        (v, "fresh")
      case Some((oldFp, v)) if mvVersions.contains(v) && parseFp(oldFp).nonEmpty =>
        val lastVs = parseFp(oldFp).get
        val incremental = scala.util.Try {
          // one delta per moved source; changesBetween aborts (ConfigError)
          // on any non-append commit — full recompute owns that case
          val deltas = sources.flatMap { case (n, loc) =>
            if (lastVs(n) == curVs(n)) None
            else Some(VersionedTable.changesBetween(spark, loc,
              lastVs(n), curVs(n), format, options).drop("_commit_version"))
          }
          val refold = sums.keys.toSeq.sorted.map(o => sum(col(o)).as(o)) ++
            countName.map(n => sum(col(n)).as(n))
          val folded = VersionedTable.read(spark, location, Some(v), format, options)
            .unionByName(viewOf(unionAll(deltas)))
            .groupBy(keyCols.map(col): _*)
            .agg(refold.head, refold.tail: _*)
          VersionedTable.commit(spark, location, folded, "overwrite",
            format, options)
        }
        incremental match {
          case scala.util.Success(nv) =>
            recordState(spark, location, fp, nv)
            graft.log.Log.info("additive MV incremental fold",
              "location" -> location, "fingerprint" -> fp)
            (nv, "incremental")
          case scala.util.Failure(_: graft.config.ConfigError) =>
            fullRecompute(spark, location, fp, viewOf(fullSnapshot), format, options)
          case scala.util.Failure(e) => throw e
        }
      case _ =>
        fullRecompute(spark, location, fp, viewOf(fullSnapshot), format, options)
    }
  }

  private def fullRecompute(spark: SparkSession, location: String,
                            fp: String, view: => DataFrame,
                            format: String,
                            options: Map[String, String]): (Long, String) = {
    val v = VersionedTable.commit(spark, location, view, "overwrite",
      format, options)
    recordState(spark, location, fp, v)
    graft.log.Log.info("additive MV full recompute",
      "location" -> location, "fingerprint" -> fp, "version" -> s"v$v")
    (v, "full")
  }
}
