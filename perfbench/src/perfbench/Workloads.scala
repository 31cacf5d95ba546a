package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.ConfigParser
import graft.engine.Engine
import graft.operators.Dedup
import graft.sinks.VersionedTable

/** One closed-loop workload. `cycle` is the fixed unit of work the loop
  * repeats; it returns false once the generated inputs are used up. The
  * untimed warm-ups run the same cycles, so every cycle continues from the
  * state the previous one left. */
trait Workload {
  /** Build the state the first cycle starts from (part of set-up). */
  def prepare(): Unit
  def cycle(c: Int, rec: Recorder): Boolean
  /** Checks and sizes gathered after the loop, outside the timed region. */
  def finish(traced: Boolean): Map[String, Any]
}

object Workload {
  def apply(spark: SparkSession, plan: Map[String, Any]): Workload =
    plan("workload") match {
      case "batch_etl" => new BatchEtl(spark, plan)
      case "incremental_commits" => new IncrementalCommits(spark, plan)
      case "dedup_corpus" => new DedupCorpus(spark, plan)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }

  def str(plan: Map[String, Any], key: String): String = plan(key).toString
  def int(plan: Map[String, Any], key: String): Int = plan(key).toString.toInt

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally s.close()
    }

  /** Bytes on disk under a directory, every file included. */
  def diskBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  /** Bytes the live rows take when written once, compactly. */
  def liveBytes(df: DataFrame, scratch: Path): Long = {
    deleteTree(scratch)
    df.coalesce(1).write.parquet(scratch.toString)
    val s = Files.list(scratch)
    try s.filter(_.getFileName.toString.endsWith(".parquet")).mapToLong(Files.size(_)).sum()
    finally s.close()
  }
}

/** Parses a job's YAML and runs it through the engine: one operation. */
final class JobRunner(spark: SparkSession, configDir: String) {
  private def text(job: String): String =
    new String(Files.readAllBytes(Paths.get(configDir, s"$job.yaml")), "UTF-8")

  def run(rec: Recorder, job: String, vars: Map[String, String]): Unit = {
    val spec = rec.span("ConfigParser.parse")(ConfigParser.parse(text(job)))
    rec.span("Engine.run")(Engine.run(spark, spec, "default", vars))
  }
}

/** Full-refresh spark-sql jobs over a generated TPC-H-shaped star: a
  * four-way join with a group-by, a partitioned sink, and a dynamic
  * partition overwrite of two of its partitions. */
final class BatchEtl(spark: SparkSession, plan: Map[String, Any]) extends Workload {
  import Workload._
  private val ws = Paths.get(str(plan, "workspace"))
  private val jobs = Seq("revenue", "lineitem_by_year", "overwrite_years")
  private val runner = new JobRunner(spark, str(plan, "config_dir"))
  private val vars = Map("root" -> ws.resolve("main").toString)

  def prepare(): Unit = ()

  def cycle(c: Int, rec: Recorder): Boolean = {
    jobs.foreach(j => rec.op(s"engine.run:$j", c)(runner.run(rec, j, vars)))
    true
  }

  def finish(traced: Boolean): Map[String, Any] = {
    val out = ws.resolve("main").resolve("out")
    val live = Seq("revenue", "lineitem_by_year").map { t =>
      liveBytes(spark.read.parquet(out.resolve(t).toString), ws.resolve("compact").resolve(t))
    }.sum
    Map("disk_bytes" -> diskBytes(out), "live_bytes" -> live)
  }
}

/** Rounds against one versioned table. Each round lands an arrival batch
  * and runs a bookmark-incremental MERGE, a streaming drain of the same
  * arrival, a deletion-vector delete, and three reads; every
  * `maintenance_every`-th round ends with delete compaction and a version
  * vacuum. One round is one cycle. */
final class IncrementalCommits(spark: SparkSession, plan: Map[String, Any]) extends Workload {
  import Workload._
  private val ws = Paths.get(str(plan, "workspace"))
  private val staged = Paths.get(str(plan, "arrivals_dir"))
  private val maintenanceEvery = int(plan, "maintenance_every")
  private val deletes: Seq[(Long, Long)] = plan("deletes").asInstanceOf[List[List[Any]]]
    .map(d => (d(0).toString.toLong, d(1).toString.toLong))
  private val runner = new JobRunner(spark, str(plan, "config_dir"))
  private val root = ws.resolve("main")
  private val table = root.resolve("table").toString
  private val vars = Map("root" -> root.toString)
  private var nextRound = 0
  /** (round, bytes under the table) after every round. */
  private val tableBytes = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]

  private def latest: Long = VersionedTable.versions(spark, table).last

  private def checksum(df: DataFrame): Seq[Long] = {
    val r = df.agg(count(lit(1)), coalesce(sum(col("k")), lit(0L)),
      coalesce(sum(col("v")), lit(0L))).head()
    Seq(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  private def write(rec: Recorder, job: String, c: Int, r: Int,
                    extra: Map[String, String] = Map.empty): Unit = {
    val o = rec.op(s"engine.run:$job", c, r)(runner.run(rec, job, vars ++ extra))
    o.info("version") = latest
  }

  /** A read op on the version `pick` chooses from the committed list. */
  private def read(rec: Recorder, name: String, c: Int, r: Int, pick: Seq[Long] => Long)(
      body: DataFrame => Unit): Unit =
    rec.op(name, c, r) {
      val vs = rec.span("VersionedTable.versions")(VersionedTable.versions(spark, table))
      val v = pick(vs)
      rec.note("version", v)
      body(rec.span("VersionedTable.read")(VersionedTable.read(spark, table, asOf = Some(v))))
    }

  def prepare(): Unit = {
    deleteTree(root)
    Files.createDirectories(root.resolve("landing"))
    val rec = new Recorder("prepare")
    val o = rec.op("engine.run:base_load", -1)(runner.run(rec, "base_load", vars))
    if (!o.ok) throw new IllegalStateException(s"base load: ${o.error}")
  }

  def cycle(c: Int, rec: Recorder): Boolean = {
    val r = nextRound
    if (r >= deletes.size) return false
    nextRound += 1
    // land the arrival: a copy, so the new file's mtime is now
    val name = f"arrival-$r%05d.parquet"
    Files.copy(staged.resolve(name), root.resolve("landing").resolve(name),
      StandardCopyOption.REPLACE_EXISTING)
    val (lo, hi) = deletes(r)
    write(rec, "merge", c, r)
    write(rec, "drain", c, r)
    write(rec, "delete", c, r, Map("del_lo" -> lo.toString, "del_hi" -> hi.toString))
    read(rec, "read:latest", c, r, _.last)(df => rec.note("checksum", checksum(df)))
    read(rec, "read:as_of", c, r, _.init.last)(df => rec.note("checksum", checksum(df)))
    read(rec, "read:aggregate", c, r, _.last) { df =>
      val rows = df.groupBy(col("b")).agg(sum(col("v")), count(lit(1))).collect()
      rec.note("buckets", rows.map(x => Seq(x.getInt(0).toLong, x.getLong(1), x.getLong(2)))
        .sortBy(_.head).toSeq)
    }
    if ((r + 1) % maintenanceEvery == 0) {
      write(rec, "compact_deletes", c, r)
      write(rec, "version_vacuum", c, r)
    }
    tableBytes += Seq(r.toLong, diskBytes(Paths.get(table)))
    true
  }

  def finish(traced: Boolean): Map[String, Any] = {
    val t = VersionedTable.read(spark, table)
    val log = VersionedTable.read(spark, root.resolve("arrivals_log").toString)
    Map("final_checksum" -> checksum(t), "stream_checksum" -> checksum(log),
      "table_bytes" -> tableBytes.toList,
      "live_bytes" -> liveBytes(t, ws.resolve("compact")))
  }
}

/** Near-duplicate removal over a generated corpus: minhash LSH with the
  * bucket cap, star edges, connected components, keeper election, and a
  * parquet write — one pass per cycle. */
final class DedupCorpus(spark: SparkSession, plan: Map[String, Any]) extends Workload {
  import Workload._
  private val ws = Paths.get(str(plan, "workspace"))
  private val corpus = str(plan, "corpus_dir")
  private val maxBucket = int(plan, "max_bucket")
  private def docs = spark.read.parquet(corpus)

  private def pass(rec: Recorder, out: Path): Unit = {
    val d = docs
    val (pairs, families) = rec.span("Dedup.minhashLshCapped")(
      Dedup.minhashLshCapped(d, "doc_id", "text", maxBucket = maxBucket))
    val edges = rec.span("Dedup.cappedEdges")(Dedup.cappedEdges(pairs, families).localCheckpoint())
    val clusters = rec.span("Dedup.clusters")(Dedup.clusters(d, "doc_id", edges))
    rec.span("Dedup.keepBest") {
      Dedup.keepBest(clusters, d.select("doc_id", "quality"), "quality")
        .write.mode(SaveMode.Overwrite).parquet(out.toString)
    }
  }

  private var passes = 0

  def prepare(): Unit = deleteTree(ws.resolve("out"))

  def cycle(c: Int, rec: Recorder): Boolean = {
    val out = ws.resolve("out").resolve(f"pass-$passes%04d")
    passes += 1
    rec.op("dedup.pass", c)(pass(rec, out))
    true
  }

  def finish(traced: Boolean): Map[String, Any] = {
    val passDirs = Files.list(ws.resolve("out"))
    val last = try passDirs.sorted(java.util.Comparator.reverseOrder[Path]()).findFirst().get
      finally passDirs.close()
    val base = Map("disk_bytes" -> diskBytes(last),
      "live_bytes" -> liveBytes(spark.read.parquet(last.toString), ws.resolve("compact")))
    if (!traced) base
    else {
      // pair counts for the traced run's yield metric: the candidate
      // pairs the capped LSH emits before verification, and the pairs
      // that pass it
      val d = docs
      val sets = Dedup.shingleSets(d, "doc_id", "text", 3)
      val (candidates, _) = Dedup.lshCandidatesCapped(
        Dedup.signaturesFromSets(sets, 128), 32, maxBucket)
      val (pairs, _) = Dedup.minhashLshCapped(d, "doc_id", "text", maxBucket = maxBucket)
      base ++ Map("candidate_pairs" -> candidates.count(), "verified_pairs" -> pairs.count())
    }
  }
}
