package graft

import org.apache.spark.sql.SparkSession

import graft.util.Json

/** Benchmark main — runs every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line the driver records as BENCH_r{N}.json.
  *
  * Each query is forced through a `noop` sink write: a bare `count()`
  * lets Catalyst prune every non-key column (projection-only queries
  * would degenerate to parquet-footer row counts and time ~nothing);
  * noop executes the full physical plan and discards rows at the sink.
  * Failures are recorded per query (value -1 + error message), never
  * swallowed.
  *
  * Noise hardening (round-3 verdict): each query runs
  * SPARK_GRAFT_BENCH_RUNS times (default 3) and reports the MEDIAN —
  * the first execution absorbs per-query JIT/codegen/footer-cache warm-up
  * and the median discards it, so one cold or contended run can't fail a
  * 2×-baseline gate on unchanged code.
  */
object Bench {
  /** `/proc/loadavg` 1/5/15-minute fields as a JSON array — recorded at
    * run start AND end so a contended box self-identifies in the
    * artifact: rounds 5, 6, 7, and 10 each produced over-gate rows that
    * a later idle remeasure cleared, and the adjudication had to be done
    * by hand because the artifact carried no load evidence.
    * `tools/gate_check.py` annotates over-gate rows from a loaded run as
    * "contended — remeasure" instead of red. */
  private def loadavg(): String =
    try {
      val parts = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")), "UTF-8").trim.split("\\s+")
      s"[${parts(0)},${parts(1)},${parts(2)}]"
    } catch { case _: Exception => "null" }

  def main(args: Array[String]): Unit = {
    val loadStart = loadavg()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true") // events.parquet
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false") // naive ts -> TimestampType (UTC session)
      .config("spark.sql.extensions", "graft.sql.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Untimed warm-up: JIT/codegen/parquet-footer caches would otherwise
    // all land on whichever query happens to sort first. Best-effort —
    // a missing fixture must not kill the per-query error reporting.
    try spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count()
      .write.format("noop").mode("overwrite").save()
    catch { case e: Throwable =>
      System.err.println(s"[bench] warm-up skipped: ${e.getMessage}")
    }

    val nRuns = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)
    // SPARK_GRAFT_BENCH_ONLY=q01_project,ext24_… narrows the run while
    // iterating on one operator; unset (the driver's mode) runs everything.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val allRuns = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Double]]
    val results = names.map { name =>
      val fn = SparkEntry.queries(name)
      val times = (1 to nRuns).flatMap { _ =>
        if (errors.contains(name)) None // fail fast: don't re-run a broken query
        else {
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            Some((System.nanoTime() - t0) / 1e9)
          } catch { case e: Throwable =>
            errors += name -> String.valueOf(e.getMessage).take(300)
            None
          }
        }
      }
      allRuns += name -> times
      val median =
        if (times.isEmpty) -1.0
        else times.sorted.apply((times.size - 1) / 2)
      // Per-run times to stderr (the driver parses stdout only): when a
      // median trips the 2x gate, this shows whether one run was cold or
      // the whole distribution shifted — the difference between noise and
      // a regression, which round 3 proved a single number can't convey.
      System.err.println(
        f"[bench] $name median=$median%.3f runs=${times.map(t => f"$t%.3f").mkString(",")}")
      name -> median
    }
    val qs = results.map { case (k, v) => s"${Json.quote(k)}:$v" }.mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => s"${Json.quote(k)}:${Json.quote(v)}" }.mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    // per-query max/min run spread: with median-of-3, transient box
    // contention shows up as one outlier run — a high spread on an
    // over-gate row means "noisy, remeasure", a tight spread means the
    // whole distribution moved (a real regression). gate_check.py reads
    // this to annotate over-gate rows.
    val spreadJson = allRuns.collect {
      case (k, ts) if ts.nonEmpty && ts.min > 0 =>
        s"${Json.quote(k)}:${f"${ts.max / ts.min}%.2f"}"
    }.mkString("{", ",", "}")
    val loadEnd = loadavg()
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errJson,"n_failed":${errors.size},"sf":${Json.quote(sfDir)},"runs_per_query":$nRuns,"n_queries":${results.size},"loadavg_start":$loadStart,"loadavg_end":$loadEnd,"spread":$spreadJson}"""
    println(line)
    // Full artifact to a repo-tracked file: the driver's BENCH_r{N}.json
    // capture truncates to the tail ~56 queries, so gate comparisons
    // depended on prose. This file carries every per-query median (same
    // JSON line) for diffing across rounds. The default name carries the
    // SF so runs at different scales can't clobber each other, and a
    // SPARK_GRAFT_BENCH_ONLY-narrowed debug pass never writes at all — a
    // partial map must not masquerade as the full artifact. Best-effort:
    // bench results must not die on a read-only working dir.
    if (only.isEmpty) {
      val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_FILE",
        s"bench/BENCH_full_${new java.io.File(sfDir).getName}.json")
      try {
        val p = java.nio.file.Paths.get(out)
        if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.write(p, (line + "\n").getBytes("UTF-8"))
      } catch { case e: Exception =>
        System.err.println(s"[bench] could not write $out: ${e.getMessage}")
      }
    } else System.err.println("[bench] SPARK_GRAFT_BENCH_ONLY set — full artifact not written")
    spark.stop()
    if (errors.nonEmpty) sys.exit(2)
  }
}
