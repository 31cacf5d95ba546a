package graft.sinks

import graft.SparkSpec

class VersionedTableSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String) =
    java.nio.file.Files.createTempDirectory("vt-spec").toString + s"/$name"

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Int, String)] =
    df.collect().map(r => (r.getAs[Int]("k"), r.getAs[String]("v"))).toSet

  private def manifestPath(loc: String, v: Long, branch: String = "") =
    new org.apache.hadoop.fs.Path(s"$loc/_graft_log/" +
      (if (branch.isEmpty) f"v$v%05d.json" else f"v$v%05d@$branch.json"))

  private def manifest(loc: String, v: Long, branch: String = ""): graft.util.Json.Manifest = {
    val p = manifestPath(loc, v, branch)
    graft.util.Json.load[graft.util.Json.Manifest](
      p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** The data files version `v` lists. */
  private def files(loc: String, v: Long, branch: String = ""): Seq[String] =
    manifest(loc, v, branch).names.map(n => s"$loc/data/$n")

  /** `body`'s result and the number of Spark jobs it launched: a
    * listener counts the job starts that carry a job group unique to
    * this call, so jobs another test left running never count. */
  private def jobsOf[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = java.util.UUID.randomUUID().toString
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet(): Unit
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      val out = try body finally sc.clearJobGroup()
      org.apache.spark.ListenerBus.drain(sc)
      (out, n.get)
    } finally sc.removeSparkListener(listener)
  }

  test("commit/read roundtrip: overwrite snapshots, append accumulates") {
    val loc = tmp("t1")
    val v1 = VersionedTable.commit(spark, loc, Seq((1, "a")).toDF("k", "v"), "overwrite")
    val v2 = VersionedTable.commit(spark, loc, Seq((2, "b")).toDF("k", "v"), "append")
    val v3 = VersionedTable.commit(spark, loc, Seq((9, "z")).toDF("k", "v"), "overwrite")
    assert((v1, v2, v3) == ((1L, 2L, 3L)))
    assert(rows(VersionedTable.read(spark, loc)) == Set((9, "z")))
    assert(rows(VersionedTable.read(spark, loc, asOf = Some(2L))) == Set((1, "a"), (2, "b")))
    assert(rows(VersionedTable.read(spark, loc, asOf = Some(1L))) == Set((1, "a")))
    assert(VersionedTable.versions(spark, loc) == Seq(1L, 2L, 3L))
  }

  test("snapshot isolation: a frame planned at version N never sees N+1") {
    val loc = tmp("t2")
    VersionedTable.commit(spark, loc, Seq((1, "a")).toDF("k", "v"), "overwrite")
    val pinned = VersionedTable.read(spark, loc) // resolved at v1
    VersionedTable.commit(spark, loc, Seq((2, "b")).toDF("k", "v"), "append")
    assert(rows(pinned) == Set((1, "a")))          // still v1's file list
    assert(rows(VersionedTable.read(spark, loc)) == Set((1, "a"), (2, "b")))
  }

  test("commit CAS: losing the version race rebases appends, never drops data") {
    val loc = tmp("t3")
    VersionedTable.commit(spark, loc, Seq((1, "a")).toDF("k", "v"), "overwrite")
    // simulate a concurrent writer landing v2 between our read and CAS:
    // plant a valid v2 manifest (copy of v1) so the next commit's first
    // attempt loses the create-if-absent race and must rebase to v3
    val log = new java.io.File(s"$loc/_graft_log")
    java.nio.file.Files.copy(
      new java.io.File(log, "v00001.json").toPath,
      new java.io.File(log, "v00002.json").toPath)
    val v = VersionedTable.commit(spark, loc, Seq((2, "b")).toDF("k", "v"), "append")
    assert(v == 3L) // rebased past the planted v2
    assert(rows(VersionedTable.read(spark, loc)) == Set((1, "a"), (2, "b")))
  }

  test("dead writers are invisible: unreferenced data files never read, vacuumed later") {
    val loc = tmp("t4")
    VersionedTable.commit(spark, loc, Seq((1, "a")).toDF("k", "v"), "overwrite")
    // a writer that died after moving files but before its manifest:
    // plant a stray parquet into data/
    Seq((99, "dead")).toDF("k", "v").write.parquet(s"$loc/.orphan")
    val part = new java.io.File(s"$loc/.orphan").listFiles()
      .filter(_.getName.startsWith("part-")).head
    java.nio.file.Files.copy(part.toPath,
      new java.io.File(s"$loc/data/deadbeef-${part.getName}").toPath)
    assert(rows(VersionedTable.read(spark, loc)) == Set((1, "a")))
    VersionedTable.commit(spark, loc, Seq((2, "b")).toDF("k", "v"), "append")
    // default vacuum AGE-GATES never-referenced files (they could be a
    // LIVE writer's staged commit) — the fresh orphan survives ...
    val gated = VersionedTable.vacuumVersions(spark, loc, keepFromVersion = 2L)
    assert(!gated.exists(_.contains("deadbeef")))
    // ... and reclaims once the gate is lifted (a crashed writer's file)
    val dropped = VersionedTable.vacuumVersions(spark, loc,
      keepFromVersion = 2L, minOrphanAgeMillis = 0L)
    assert(dropped.exists(_.contains("deadbeef")))       // orphan reclaimed
    assert(gated.exists(_.contains("v00001.json")))      // old manifest gone
    assert(rows(VersionedTable.read(spark, loc)) == Set((1, "a"), (2, "b")))
    val e = intercept[graft.config.ConfigError](
      VersionedTable.vacuumVersions(spark, loc, keepFromVersion = 99L))
    assert(e.getMessage.contains("refusing to empty"))
  }

  test("txn commits are exactly-once: a replayed batch id is skipped, not re-appended") {
    val loc = tmp("t6")
    val v1 = VersionedTable.commit(spark, loc, Seq((1, "a")).toDF("k", "v"),
      "append", txn = Some(("ckpt-A", 0L)))
    // WAL replay of batch 0 (crash between sink commit and checkpoint
    // advance): must return the already-committed version, write nothing
    val vReplay = VersionedTable.commit(spark, loc, Seq((1, "a")).toDF("k", "v"),
      "append", txn = Some(("ckpt-A", 0L)))
    assert(v1 == 1L && vReplay == 1L)
    assert(VersionedTable.versions(spark, loc) == Seq(1L))
    assert(rows(VersionedTable.read(spark, loc)) == Set((1, "a")))
    // the NEXT batch commits; an older batch id offered later also skips
    val v2 = VersionedTable.commit(spark, loc, Seq((2, "b")).toDF("k", "v"),
      "append", txn = Some(("ckpt-A", 1L)))
    val vOld = VersionedTable.commit(spark, loc, Seq((9, "x")).toDF("k", "v"),
      "append", txn = Some(("ckpt-A", 0L)))
    assert(v2 == 2L && vOld == 2L)
    assert(rows(VersionedTable.read(spark, loc)) == Set((1, "a"), (2, "b")))
    // a DIFFERENT app's batch 0 is unrelated and commits
    val v3 = VersionedTable.commit(spark, loc, Seq((3, "c")).toDF("k", "v"),
      "append", txn = Some(("ckpt-B", 0L)))
    assert(v3 == 3L)
    assert(rows(VersionedTable.read(spark, loc)) == Set((1, "a"), (2, "b"), (3, "c")))
  }

  test("maintenance on a versioned root goes THROUGH the protocol, never flattens it") {
    val loc = tmp("t7")
    def kw(df: org.apache.spark.sql.DataFrame): Set[(Int, Int)] =
      df.collect().map(r => (r.getAs[Int]("k"), r.getAs[Int]("w"))).toSet
    // two commits -> latest snapshot spread over several files
    VersionedTable.commit(spark, loc,
      Seq((1, 10), (2, 20)).toDF("k", "w").repartition(4), "overwrite")
    VersionedTable.commit(spark, loc, Seq((3, 30)).toDF("k", "w"), "append")
    val filesBefore = new java.io.File(s"$loc/data").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(filesBefore >= 3)
    Sinks.compact(spark, loc, "parquet", nFiles = 1)
    // compaction published as v3: same content, history intact
    assert(VersionedTable.versions(spark, loc) == Seq(1L, 2L, 3L))
    assert(kw(VersionedTable.read(spark, loc)) == Set((1, 10), (2, 20), (3, 30)))
    assert(kw(VersionedTable.read(spark, loc, asOf = Some(1L))) == Set((1, 10), (2, 20)))
    // z-order clustering also commits through the protocol
    Sinks.clusterZOrder(spark, loc, "parquet", Seq("k", "w"), nFiles = 1)
    assert(VersionedTable.versions(spark, loc) == Seq(1L, 2L, 3L, 4L))
    assert(kw(VersionedTable.read(spark, loc)) == Set((1, 10), (2, 20), (3, 30)))
  }

  test("REAL concurrent appenders: every row survives, versions are dense") {
    // not a planted-manifest simulation — two actual threads race the
    // create-if-absent CAS repeatedly; the loser must rebase onto the
    // winner's file list, so nothing is ever lost and the version
    // sequence has no holes
    val loc = tmp("race1")
    VersionedTable.commit(spark, loc, Seq((0, "seed")).toDF("k", "v"), "overwrite")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val writers = (1 to 2).map { w =>
      Future {
        (1 to 5).foreach { i =>
          VersionedTable.commit(spark, loc,
            Seq((w * 100 + i, s"w$w-$i")).toDF("k", "v").coalesce(1), "append")
        }
      }
    }
    Await.result(Future.sequence(writers), 120.seconds)
    assert(VersionedTable.versions(spark, loc) == (1L to 11L))
    val got = rows(VersionedTable.read(spark, loc))
    val expected = Set((0, "seed")) ++
      (for (w <- 1 to 2; i <- 1 to 5) yield (w * 100 + i, s"w$w-$i")).toSet
    assert(got == expected) // no lost updates across 10 racing appends
  }

  test("read errors are named: empty table, unknown version") {
    val loc = tmp("t5")
    val e1 = intercept[graft.config.ConfigError](VersionedTable.read(spark, loc))
    assert(e1.getMessage.contains("no committed versions"))
    VersionedTable.commit(spark, loc, Seq((1, "a")).toDF("k", "v"), "overwrite")
    val e2 = intercept[graft.config.ConfigError](
      VersionedTable.read(spark, loc, asOf = Some(7L)))
    assert(e2.getMessage.contains("not in committed set"))
  }

  // ------------------------------------------------- zone maps / pruning

  import VersionedTable.Prune

  test("zone maps: pruned read opens only files whose [min,max] can match") {
    val loc = tmp("zm1")
    // 4 range-disjoint files: [1..10], [11..20], [21..30], [31..40]
    val df = spark.range(1, 41).selectExpr("CAST(id AS INT) AS k", "id * 2 AS w")
      .repartitionByRange(4, $"k")
    VersionedTable.commit(spark, loc, df, "overwrite", statsColumns = Seq("k"))
    def scan(p: Prune*) = VersionedTable.readPruned(spark, loc, p)
    val eq = scan(Prune("k", "=", 15))
    assert(eq.totalFiles == 4 && eq.keptFiles == 1)
    assert(eq.df.filter($"k" === 15).count() == 1)
    val range = scan(Prune("k", ">", 10), Prune("k", "<=", 30))
    assert(range.keptFiles == 2)
    assert(range.df.filter($"k" > 10 && $"k" <= 30).count() == 20)
    val below = scan(Prune("k", "<", 1))
    assert(below.keptFiles == 0 && below.df.count() == 0)
    assert(below.df.schema.fieldNames.toSeq == Seq("k", "w"))
    // no stats column named: conservative keep-everything
    val nostats = scan(Prune("w", "=", -5))
    assert(nostats.keptFiles == 4)
  }

  test("zone maps: appends carry base-file stats forward; all-null files skip") {
    val loc = tmp("zm2")
    VersionedTable.commit(spark, loc,
      Seq((1, "a"), (2, "b")).toDF("k", "v").coalesce(1),
      "overwrite", statsColumns = Seq("k", "v"))
    VersionedTable.commit(spark, loc,
      Seq((100, "x")).toDF("k", "v").coalesce(1), "append", statsColumns = Seq("k", "v"))
    // all-null k file: no comparison predicate can match NULL -> skipped
    VersionedTable.commit(spark, loc,
      Seq((null.asInstanceOf[Integer], "n")).toDF("k", "v").coalesce(1),
      "append", statsColumns = Seq("k", "v"))
    val s = VersionedTable.readPruned(spark, loc, Seq(Prune("k", "<=", 2)))
    assert(s.totalFiles == 3 && s.keptFiles == 1) // base stats survived the appends
    assert(rows(s.df.filter($"k" <= 2)) == Set((1, "a"), (2, "b")))
    // string zone maps order on the raw value
    val sv = VersionedTable.readPruned(spark, loc, Seq(Prune("v", ">=", "x")))
    assert(sv.keptFiles == 1)
    assert(sv.df.select("v").as[String].collect().toSet == Set("x"))
  }

  test("zone maps: canonical tokens order timestamps/dates numerically") {
    // Timestamp.toString renders in the writer JVM's default zone (not
    // comparable across writers); the canonical token is epoch micros
    val t1 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00.1")
    val t2 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00.05")
    assert(BigDecimal(VersionedTable.canonToken(t1)) >
      BigDecimal(VersionedTable.canonToken(t2)))
    val d1 = java.sql.Date.valueOf("2026-02-01")
    val d2 = java.sql.Date.valueOf("2026-01-31")
    assert(BigDecimal(VersionedTable.canonToken(d1)) >
      BigDecimal(VersionedTable.canonToken(d2)))
  }

  test("vacuum keeps referenced stats sidecars, drops orphaned ones") {
    val loc = tmp("zm3")
    VersionedTable.commit(spark, loc, Seq((1, "a")).toDF("k", "v"),
      "overwrite", statsColumns = Seq("k"))
    VersionedTable.commit(spark, loc, Seq((2, "b")).toDF("k", "v"),
      "append", statsColumns = Seq("k"))
    val dropped = VersionedTable.vacuumVersions(spark, loc, keepFromVersion = 2L)
    assert(dropped.exists(_.matches("_graft_log/stats-.*"))) // v1's sidecar
    // v2's sidecar still referenced: pruning still works after vacuum
    val s = VersionedTable.readPruned(spark, loc, Seq(Prune("k", "=", 2)))
    assert(s.keptFiles == 1 && s.totalFiles == 2)
  }

  test("versionAt resolves wall-clock time travel against recorded commit ts") {
    val loc = tmp("ts1")
    VersionedTable.commit(spark, loc, Seq((1, "a")).toDF("k", "v"), "overwrite")
    VersionedTable.commit(spark, loc, Seq((2, "b")).toDF("k", "v"), "append")
    val ts = VersionedTable.history(spark, loc).collect()
      .map(r => (r.getAs[Long]("version"), r.getAs[Long]("ts_millis"))).toMap
    assert(ts(1L) > 0 && ts(2L) >= ts(1L))
    assert(VersionedTable.versionAt(spark, loc, ts(1L)) == 1L ||
      ts(1L) == ts(2L)) // same-millisecond commits resolve to the later
    assert(VersionedTable.versionAt(spark, loc, ts(2L)) == 2L)
    assert(VersionedTable.versionAt(spark, loc, System.currentTimeMillis() + 1000) == 2L)
    val e = intercept[graft.config.ConfigError](
      VersionedTable.versionAt(spark, loc, ts(1L) - 10))
    assert(e.getMessage.contains("no version at or before"))
  }

  test("history answers version/mode/files/rows from metadata alone") {
    val loc = tmp("h1")
    VersionedTable.commit(spark, loc,
      Seq((1, "a"), (2, "b")).toDF("k", "v").coalesce(1),
      "overwrite", statsColumns = Seq("k"))
    VersionedTable.commit(spark, loc,
      Seq((3, "c")).toDF("k", "v").coalesce(1), "append", statsColumns = Seq("k"))
    VersionedTable.commit(spark, loc,
      Seq((9, "z")).toDF("k", "v").coalesce(1), "overwrite") // no stats: null rows
    val h = VersionedTable.history(spark, loc).collect()
      .map(r => (r.getAs[Long]("version"), r.getAs[String]("mode"),
        r.getAs[Long]("n_files"),
        if (r.isNullAt(r.fieldIndex("n_rows"))) -1L else r.getAs[Long]("n_rows")))
      .toSeq.sortBy(_._1)
    assert(h == Seq((1L, "overwrite", 1L, 2L), (2L, "append", 2L, 3L),
      (3L, "overwrite", 1L, -1L)))
    assert(VersionedTable.fileRows(spark, loc, 2L).values.toSeq.sorted == Seq(1L, 2L))
    // total_bytes: positive and growing with the file set
    val bytes = VersionedTable.history(spark, loc).collect()
      .map(r => (r.getAs[Long]("version"), r.getAs[Long]("total_bytes"))).toMap
    assert(bytes.values.forall(_ > 0) && bytes(2L) > bytes(1L))
  }

  test("append schema drift fails loudly; mergeSchema opts into evolution") {
    val loc = tmp("ev1")
    VersionedTable.commit(spark, loc, Seq((1, "a")).toDF("k", "v"), "overwrite")
    val e = intercept[graft.config.ConfigError](
      VersionedTable.commit(spark, loc,
        Seq((2, "b", 7L)).toDF("k", "v", "extra"), "append"))
    assert(e.getMessage.contains("schema drift") && e.getMessage.contains("extra"))
    // opt-in evolution: commit and read with mergeSchema
    val ms = Map("mergeSchema" -> "true")
    VersionedTable.commit(spark, loc,
      Seq((2, "b", 7L)).toDF("k", "v", "extra"), "append", options = ms)
    val got = VersionedTable.read(spark, loc, options = ms)
      .collect().map(r => (r.getAs[Int]("k"),
        Option(r.getAs[Any]("extra")).map(_.toString.toLong))).toSet
    assert(got == Set((1, None), (2, Some(7L)))) // old rows null-padded
    // the evolved version records no schema, so its reads infer
    assert(manifest(loc, 2L).schema.isEmpty)
    assert(VersionedTable.read(spark, loc, options = ms).schema ==
      spark.read.options(ms).parquet(files(loc, 2L): _*).schema)
  }

  test("append that changes a column's type fails loudly; nullability is no drift") {
    val loc = tmp("ev2")
    VersionedTable.commit(spark, loc, Seq((1L, "a")).toDF("k", "v"), "overwrite")
    val e = intercept[graft.config.ConfigError](
      VersionedTable.commit(spark, loc, Seq(("2", "b")).toDF("k", "v"), "append"))
    assert(e.getMessage.contains("schema drift") &&
      e.getMessage.contains("changed: k BIGINT -> STRING"), e.getMessage)
    assert(VersionedTable.versions(spark, loc) == Seq(1L))
    // a nullable k where v1 wrote a non-nullable one is the same schema
    VersionedTable.commit(spark, loc, Seq((Option(2L), "b")).toDF("k", "v"), "append")
    assert(manifest(loc, 2L).schema == manifest(loc, 1L).schema)
    assert(VersionedTable.read(spark, loc).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet == Set((1L, "a"), (2L, "b")))
  }

  test("bucket bitmaps skip = probes the range alone cannot") {
    import org.apache.spark.sql.functions.{hash, lit, pmod}
    val loc = tmp("bm1")
    // both files span k in [1,100]; only file B contains 50 — the range
    // tier keeps both, the bitmap tier must drop A. Guard against a
    // (deterministic) bucket collision making the expectation ambiguous.
    def bucketOf(s: String) = spark.range(1)
      .select(pmod(hash(lit(s)), lit(4096))).head.getInt(0)
    val numeric = Seq("1", "100", "50").map(bucketOf)
    assert(numeric.distinct.size == 3, s"bucket collision: $numeric")
    assert(!Seq("a", "b").map(bucketOf).contains(bucketOf("d")),
      "bucket collision between 'd' and file A's strings")
    VersionedTable.commit(spark, loc,
      Seq((1, "a"), (100, "b")).toDF("k", "v").coalesce(1),
      "overwrite", statsColumns = Seq("k", "v"))
    VersionedTable.commit(spark, loc,
      Seq((1, "c"), (50, "d"), (100, "e")).toDF("k", "v").coalesce(1),
      "append", statsColumns = Seq("k", "v"))
    // int column probed with a LONG: the canonical-string hashing makes
    // the kinds agree (both "50")
    val p = VersionedTable.readPruned(spark, loc,
      Seq(VersionedTable.Prune("k", "=", 50L)))
    assert(p.totalFiles == 2 && p.keptFiles == 1)
    assert(p.df.filter($"k" === 50).collect().map(_.getAs[String]("v")).toSeq == Seq("d"))
    // a value present in both files keeps both
    val q = VersionedTable.readPruned(spark, loc,
      Seq(VersionedTable.Prune("k", "=", 100)))
    assert(q.keptFiles == 2)
    // string bitmap: only one file holds "d"
    val r = VersionedTable.readPruned(spark, loc,
      Seq(VersionedTable.Prune("v", "=", "d")))
    assert(r.keptFiles == 1)
  }

  test("fractional columns get NO bitmap: = probes fall back to the range tier") {
    val loc = tmp("bm2")
    // 50.0 is IN range [1.0, 100.0] but absent; a bitmap would hash
    // "50.0" vs the probe's "50" and false-skip — so doubles must not
    // emit one, and the range tier conservatively keeps the file
    VersionedTable.commit(spark, loc,
      Seq((1.0, "a"), (100.0, "b")).toDF("price", "v").coalesce(1),
      "overwrite", statsColumns = Seq("price"))
    val p = VersionedTable.readPruned(spark, loc,
      Seq(VersionedTable.Prune("price", "=", 50L)))
    assert(p.keptFiles == 1) // conservative: range spans it, no bitmap
    // and a probe below the range still prunes via min/max
    val q = VersionedTable.readPruned(spark, loc,
      Seq(VersionedTable.Prune("price", "<", 1)))
    assert(q.keptFiles == 0)
  }

  test("merge rejects a drifted arrival schema even when no file is touched") {
    val loc = tmp("m5")
    VersionedTable.commit(spark, loc,
      Seq((1, "a")).toDF("k", "v").coalesce(1), "overwrite", statsColumns = Seq("k"))
    // arrival range [100,100] misses the only file -> touched empty,
    // but the drifted column set must still fail loudly
    val e = intercept[graft.config.ConfigError](
      VersionedTable.merge(spark, loc,
        Seq((100, 9L)).toDF("k", "extra"), Seq("k")))
    assert(e.getMessage.contains("schema drift") && e.getMessage.contains("extra"))
  }

  test("compact and z-order rewrites keep the tracked zone maps alive") {
    val loc = tmp("zm4")
    VersionedTable.commit(spark, loc,
      spark.range(1, 41).selectExpr("CAST(id AS INT) AS k", "id * 2 AS w")
        .repartitionByRange(4, $"k"),
      "overwrite", statsColumns = Seq("k"))
    Sinks.compact(spark, loc, "parquet", nFiles = 2)
    val afterCompact = VersionedTable.readPruned(spark, loc,
      Seq(VersionedTable.Prune("k", "<=", 5)))
    assert(afterCompact.totalFiles == 2 && afterCompact.keptFiles == 1)
    Sinks.clusterZOrder(spark, loc, "parquet", Seq("k", "w"), nFiles = 4)
    val afterCluster = VersionedTable.readPruned(spark, loc,
      Seq(VersionedTable.Prune("k", "<=", 5)))
    assert(afterCluster.totalFiles == 4 && afterCluster.keptFiles < 4)
    assert(afterCluster.df.filter($"k" <= 5).count() == 5)
  }

  // --------------------------------------------------- file-level merge

  test("merge rewrites only zone-map-matched files; the rest carry by reference") {
    val loc = tmp("m1")
    // 4 range-disjoint files over k = 1..40
    VersionedTable.commit(spark, loc,
      spark.range(1, 41).selectExpr("CAST(id AS INT) AS k", "CAST(id AS STRING) AS v")
        .repartitionByRange(4, $"k"),
      "overwrite", statsColumns = Seq("k"))
    val before = VersionedTable.fileStats(spark, loc, 1L).keySet
    assert(before.size == 4)
    // arrivals touch keys 12 and 15 — one file's range
    val v = VersionedTable.merge(spark, loc,
      Seq((12, "X"), (15, "Y"), (99, "NEW")).toDF("k", "v").coalesce(1), Seq("k"),
      statsColumns = Seq("k"))
    assert(v == 2L)
    val after = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$loc/_graft_log/v00002.json")), "UTF-8")
    // pruning is the arrival [min,max] range = [12,99], which spans the
    // three upper files (the documented coarseness); file 1 (1..10)
    // must carry by reference
    val carried = before.filter(after.contains)
    assert(carried.nonEmpty && carried.size < 4)
    // content exact
    val got = VersionedTable.read(spark, loc).collect()
      .map(r => (r.getAs[Int]("k"), r.getAs[String]("v"))).toMap
    assert(got(12) == "X" && got(15) == "Y" && got(99) == "NEW" &&
      got(1) == "1" && got(40) == "40" && got.size == 41)
    // zone maps survive: a pruned probe on the carried range still skips
    val pr = VersionedTable.readPruned(spark, loc, Seq(VersionedTable.Prune("k", "=", 5)))
    assert(pr.keptFiles < pr.totalFiles)
  }

  test("merge with a tight arrival range carries every non-matched file") {
    val loc = tmp("m2")
    VersionedTable.commit(spark, loc,
      spark.range(1, 41).selectExpr("CAST(id AS INT) AS k", "CAST(id AS STRING) AS v")
        .repartitionByRange(4, $"k"),
      "overwrite", statsColumns = Seq("k"))
    val before = VersionedTable.fileStats(spark, loc, 1L).keySet
    VersionedTable.merge(spark, loc,
      Seq((12, "X"), (15, "Y")).toDF("k", "v").coalesce(1), Seq("k"),
      statsColumns = Seq("k"))
    val after = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$loc/_graft_log/v00002.json")), "UTF-8")
    assert(before.count(after.contains) == 3) // only the 11..20 file rewritten
    assert(VersionedTable.read(spark, loc).count() == 40)
    // history shows the merge commit
    val modes = VersionedTable.history(spark, loc).collect()
      .map(r => (r.getAs[Long]("version"), r.getAs[String]("mode"))).toMap
    assert(modes == Map(1L -> "overwrite", 2L -> "merge"))
  }

  test("merge without zone maps degrades to a full rewrite, still exact") {
    val loc = tmp("m3")
    VersionedTable.commit(spark, loc,
      Seq((1, "a"), (2, "b")).toDF("k", "v").coalesce(1), "overwrite") // no stats
    VersionedTable.merge(spark, loc, Seq((2, "B"), (3, "c")).toDF("k", "v"), Seq("k"))
    assert(rows(VersionedTable.read(spark, loc)) == Set((1, "a"), (2, "B"), (3, "c")))
  }

  test("BY SOURCE merge routes through the DV: every file carries, claimed rows flip or vanish") {
    val loc = tmp("bsdv1")
    // 4 range-disjoint files over k = 1..40, zone maps on k
    VersionedTable.commit(spark, loc,
      spark.range(1, 41).selectExpr("CAST(id AS INT) AS k", "CAST(id AS STRING) AS v")
        .repartitionByRange(4, $"k"),
      "overwrite", statsColumns = Seq("k"))
    val before = VersionedTable.fileStats(spark, loc, 1L).keySet
    assert(before.size == 4)
    // matched update (keys 12, 15 — one file's range) + two BY SOURCE
    // actions (first-true-wins): delete k <= 5, re-version k >= 35
    val v = VersionedTable.merge(spark, loc,
      Seq((12, "X"), (15, "Y")).toDF("k", "v").coalesce(1), Seq("k"),
      statsColumns = Seq("k"),
      actions = MergeActions(
        matched = Seq(MergeActions.UpdateAll(None)),
        notMatched = Nil,
        bySource = Seq(
          MergeActions.BySourceDelete(Some("t.k <= 5")),
          MergeActions.BySourceUpdate(Some("t.k >= 35"), Seq("v" -> "'old'")))))
    assert(v == 2L)
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$loc/_graft_log/v00002.json")), "UTF-8")
    // the r13 weak mark: BY SOURCE no longer rewrites the table — the
    // three zone-miss files carry BY REFERENCE (only the 11..20 file
    // rewrites, for the matched action), and the claimed rows ride the
    // deletion vector + appended re-images
    assert(before.count(manifest.contains) == 3,
      s"zone-miss files must carry by reference:\n$manifest")
    assert(manifest.contains("dv_file"), "the BY SOURCE claims must be a DV")
    val got = VersionedTable.read(spark, loc).collect()
      .map(r => (r.getAs[Int]("k"), r.getAs[String]("v"))).toMap
    assert(got.size == 35 && !got.contains(1) && !got.contains(5)) // deletes
    assert(got(35) == "old" && got(40) == "old") // re-images
    assert(got(12) == "X" && got(15) == "Y")     // matched updates
    assert(got(6) == "6" && got(34) == "34")     // unclaimed rows intact
    // history: dv_rows subtract from the metadata row count
    val h = VersionedTable.history(spark, loc).collect()
      .map(r => (r.getAs[Long]("version"), r.getAs[Long]("n_rows"))).toMap
    assert(h(2L) == 35L, h.toString)
    // TIME TRAVEL across the DV commit: v1 still reads the full 40
    val v1 = VersionedTable.read(spark, loc, asOf = Some(1L)).collect()
      .map(r => (r.getAs[Int]("k"), r.getAs[String]("v"))).toMap
    assert(v1.size == 40 && v1(1) == "1" && v1(40) == "40")
  }

  test("BY SOURCE with no matched actions rewrites NOTHING; restore and vacuum cross the DV commit") {
    val loc = tmp("bsdv2")
    VersionedTable.commit(spark, loc,
      spark.range(1, 41).selectExpr("CAST(id AS INT) AS k", "CAST(id AS STRING) AS v")
        .repartitionByRange(4, $"k"),
      "overwrite", statsColumns = Seq("k"))
    val before = VersionedTable.fileStats(spark, loc, 1L).keySet
    // a pure retention merge: source lists the keys to KEEP (12, 15);
    // a matched row takes no action, everything else deletes — the
    // 100 TB shape that motivated the DV route. Key-duplicated source
    // is ANSI-legal here (no matched action, no evaluator join).
    val v = VersionedTable.merge(spark, loc,
      Seq((12, "X"), (15, "Y"), (15, "Y2")).toDF("k", "v"), Seq("k"),
      statsColumns = Seq("k"),
      actions = MergeActions(Nil, Nil,
        Seq(MergeActions.BySourceDelete(None))))
    assert(v == 2L)
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$loc/_graft_log/v00002.json")), "UTF-8")
    // NO matched/insert actions -> zero rewrites: all 4 files carry
    assert(before.forall(manifest.contains),
      s"a delete-only BY SOURCE merge must carry every file:\n$manifest")
    assert(rows(VersionedTable.read(spark, loc)) == Set((12, "12"), (15, "15")))
    // RESTORE across the DV commit: the head rolls back to the full 40
    val v3 = VersionedTable.restore(spark, loc, 1L)
    assert(v3 == 3L && VersionedTable.read(spark, loc).count() == 40)
    // ... and restoring FORWARD to the DV'd version carries its DV
    val v4 = VersionedTable.restore(spark, loc, 2L)
    assert(v4 == 4L &&
      rows(VersionedTable.read(spark, loc)) == Set((12, "12"), (15, "15")))
    // VACUUM below the DV'd version: the DV sidecar stays referenced
    VersionedTable.vacuumVersions(spark, loc, keepFromVersion = 4L,
      minOrphanAgeMillis = 0L)
    assert(rows(VersionedTable.read(spark, loc)) == Set((12, "12"), (15, "15")))
  }

  test("BY SOURCE claims compose with a prior deleteWhere DV and never resurrect") {
    val loc = tmp("bsdv3")
    VersionedTable.commit(spark, loc,
      spark.range(1, 41).selectExpr("CAST(id AS INT) AS k", "CAST(id AS STRING) AS v")
        .repartitionByRange(4, $"k"),
      "overwrite", statsColumns = Seq("k"))
    VersionedTable.deleteWhere(spark, loc, "k = 25") // prior DV entry
    // BY SOURCE delete k <= 5 with an empty-ish source (key 12 only)
    VersionedTable.merge(spark, loc,
      Seq((12, "X")).toDF("k", "v"), Seq("k"), statsColumns = Seq("k"),
      actions = MergeActions(Nil, Nil,
        Seq(MergeActions.BySourceDelete(Some("t.k <= 5")))))
    val got = VersionedTable.read(spark, loc).collect()
      .map(r => r.getAs[Int]("k")).toSet
    // both DVs apply: 25 (prior) and 1..5 (BY SOURCE) are gone; the
    // matched key 12 took no action (no matched action declared)
    assert(got == ((6 to 40).toSet - 25) && got.contains(12))
    // a later row-replace merge touching the 21..30 file materializes
    // its DV entries away without resurrecting 25
    VersionedTable.merge(spark, loc,
      Seq((26, "Z")).toDF("k", "v").coalesce(1), Seq("k"),
      statsColumns = Seq("k"))
    val after = VersionedTable.read(spark, loc).collect()
      .map(r => (r.getAs[Int]("k"), r.getAs[String]("v"))).toMap
    assert(!after.contains(25) && after(26) == "Z" && !after.contains(3))
  }

  test("non-parquet BY SOURCE merge falls back to the whole-table rewrite WITHOUT losing zone-miss rows") {
    val loc = tmp("bsorc")
    // orc: no parquet row positions -> no DV route -> whole-table
    // rewrite; the rewrite input must be ALL files, not just the
    // zone-hit probe set (the r14 review-found data-loss bug: loading
    // touchedProbe dropped every zone-miss file's rows from v+1)
    VersionedTable.commit(spark, loc,
      spark.range(1, 41).selectExpr("CAST(id AS INT) AS k", "CAST(id AS STRING) AS v")
        .repartitionByRange(4, $"k"),
      "overwrite", format = "orc", statsColumns = Seq("k"))
    VersionedTable.merge(spark, loc,
      Seq((12, "X")).toDF("k", "v").coalesce(1), Seq("k"), format = "orc",
      statsColumns = Seq("k"),
      actions = MergeActions(
        Seq(MergeActions.UpdateAll(None)), Nil,
        Seq(MergeActions.BySourceDelete(Some("t.k <= 5")))))
    val got = VersionedTable.read(spark, loc, format = "orc").collect()
      .map(r => (r.getAs[Int]("k"), r.getAs[String]("v"))).toMap
    assert(got.size == 35 && got(12) == "X" && !got.contains(3) &&
      got(21) == "21" && got(40) == "40",
      s"zone-miss rows must survive the non-parquet fallback rewrite: $got")
  }

  test("merge star actions reject extra source columns by name (no silent drop)") {
    val loc = tmp("bsdv4")
    VersionedTable.commit(spark, loc,
      Seq((1, "a")).toDF("k", "v"), "overwrite")
    val e = intercept[graft.config.ConfigError](
      VersionedTable.merge(spark, loc,
        Seq((1, "A", 9L)).toDF("k", "v", "extra_col"), Seq("k"),
        actions = MergeActions(
          Seq(MergeActions.UpdateAll(None)),
          Seq(MergeActions.InsertAll(Some("s.k > 0"))), Nil)))
    assert(e.getMessage.contains("extra_col") &&
      e.getMessage.contains("schema evolution"), e.getMessage)
  }

  test("merge is serializable: a commit since the snapshot aborts loudly") {
    val loc = tmp("m4")
    VersionedTable.commit(spark, loc, Seq((1, "a")).toDF("k", "v"), "overwrite")
    // plant a concurrent v2 (copy of v1) to lose the CAS
    val log = new java.io.File(s"$loc/_graft_log")
    java.nio.file.Files.copy(
      new java.io.File(log, "v00001.json").toPath,
      new java.io.File(log, "v00002.json").toPath)
    val e = intercept[java.util.ConcurrentModificationException](
      VersionedTable.merge(spark, loc, Seq((1, "A")).toDF("k", "v"), Seq("k"),
        expectedLatest = Some(1L)))
    assert(e.getMessage.contains("re-read and re-merge"))
  }

  // ----------------------------------------------------------------- CDC

  test("changesBetween returns exactly the appended rows, tagged with their commit") {
    val loc = tmp("cdc1")
    VersionedTable.commit(spark, loc, Seq((1, "a")).toDF("k", "v"), "overwrite")
    VersionedTable.commit(spark, loc, Seq((2, "b"), (3, "c")).toDF("k", "v"), "append")
    VersionedTable.commit(spark, loc, Seq((4, "d")).toDF("k", "v"), "append")
    val ch = VersionedTable.changesBetween(spark, loc, 1L, 3L)
    val got = ch.collect().map(r => (r.getAs[Int]("k"), r.getAs[Long]("_commit_version"))).toSet
    assert(got == Set((2, 2L), (3, 2L), (4, 3L)))
    // sub-range
    val ch2 = VersionedTable.changesBetween(spark, loc, 2L, 3L)
    assert(ch2.collect().map(_.getAs[Int]("k")).toSet == Set(4))
  }

  test("changesBetween aborts loudly on an overwrite commit in the range") {
    val loc = tmp("cdc2")
    VersionedTable.commit(spark, loc, Seq((1, "a")).toDF("k", "v"), "overwrite")
    VersionedTable.commit(spark, loc, Seq((2, "b")).toDF("k", "v"), "overwrite")
    val e = intercept[graft.config.ConfigError](
      VersionedTable.changesBetween(spark, loc, 1L, 2L).collect())
    assert(e.getMessage.contains("overwrite commit"))
    val bad = intercept[graft.config.ConfigError](
      VersionedTable.changesBetween(spark, loc, 1L, 9L))
    assert(bad.getMessage.contains("not in committed set"))
  }

  test("deleteWhere: rows vanish without moving a file; deletes accumulate") {
    val loc = tmp("dv1")
    VersionedTable.commit(spark, loc,
      Seq((1, "a"), (2, "b"), (3, "c"), (4, "d")).toDF("k", "v"), "overwrite")
    val dataFiles = new java.io.File(s"$loc/data").listFiles().map(_.getName).toSet
    val v2 = VersionedTable.deleteWhere(spark, loc, "k = 2")
    assert(v2 == 2L)
    // zero data movement: same file set, same bytes
    assert(new java.io.File(s"$loc/data").listFiles().map(_.getName).toSet == dataFiles)
    assert(rows(VersionedTable.read(spark, loc)) == Set((1, "a"), (3, "c"), (4, "d")))
    // time travel still sees the deleted row
    assert(rows(VersionedTable.read(spark, loc, asOf = Some(1L))) ==
      Set((1, "a"), (2, "b"), (3, "c"), (4, "d")))
    // accumulation
    val v3 = VersionedTable.deleteWhere(spark, loc, "k >= 4")
    assert(v3 == 3L)
    assert(rows(VersionedTable.read(spark, loc)) == Set((1, "a"), (3, "c")))
    // no-match delete is a no-op (no new version)
    assert(VersionedTable.deleteWhere(spark, loc, "k = 99") == 3L)
    assert(VersionedTable.versions(spark, loc) == Seq(1L, 2L, 3L))
  }

  test("deleteWhere: append carries the DV; merge never resurrects deleted rows") {
    val loc = tmp("dv2")
    VersionedTable.commit(spark, loc,
      Seq((1, "a"), (2, "b")).toDF("k", "v"), "overwrite",
      statsColumns = Seq("k"))
    VersionedTable.deleteWhere(spark, loc, "k = 1")
    // append keeps the delete invisible
    VersionedTable.commit(spark, loc, Seq((3, "c")).toDF("k", "v"), "append",
      statsColumns = Seq("k"))
    assert(rows(VersionedTable.read(spark, loc)) == Set((2, "b"), (3, "c")))
    // merge rewriting the file containing the deleted row must not
    // bring k=1 back (the DV applies to the snapshot being merged)
    VersionedTable.merge(spark, loc, Seq((2, "B")).toDF("k", "v"),
      keys = Seq("k"), statsColumns = Seq("k"))
    assert(rows(VersionedTable.read(spark, loc)) == Set((2, "B"), (3, "c")))
  }

  test("deleteWhere: history subtracts dv_rows; compaction purges the DV") {
    val loc = tmp("dv3")
    VersionedTable.commit(spark, loc,
      Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v"), "overwrite",
      statsColumns = Seq("k"))
    VersionedTable.deleteWhere(spark, loc, "k <= 2")
    val h = VersionedTable.history(spark, loc).collect()
      .map(r => (r.getAs[Long]("version"), r.getAs[String]("mode"),
        Option(r.getAs[Any]("n_rows")))).toSeq.sortBy(_._1)
    assert(h(0) == ((1L, "overwrite", Some(3L))))
    assert(h(1) == ((2L, "delete", Some(1L)))) // 3 files' rows minus 2 deleted
    // compaction reads THROUGH the DV and its commit drops it
    Sinks.compact(spark, loc, "parquet", nFiles = 1)
    assert(rows(VersionedTable.read(spark, loc)) == Set((3, "c")))
    val latestText = scala.io.Source.fromFile(
      new java.io.File(s"$loc/_graft_log").listFiles()
        .filter(_.getName.matches("v\\d+\\.json")).sortBy(_.getName).last).mkString
    assert(!latestText.contains("dv_file"))
  }

  test("deleteWhere: vacuum keeps referenced DV sidecars, reclaims dropped ones") {
    val loc = tmp("dv4")
    VersionedTable.commit(spark, loc,
      Seq((1, "a"), (2, "b")).toDF("k", "v"), "overwrite")
    VersionedTable.deleteWhere(spark, loc, "k = 1") // v2 + dv sidecar A
    VersionedTable.deleteWhere(spark, loc, "k = 2") // v3 + dv sidecar B
    def dvDirs = new java.io.File(s"$loc/_graft_log").listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("dv-")).map(_.getName).toSet
    assert(dvDirs.size == 2)
    // keep only v3: v2's sidecar (committed then dropped) reclaims now
    VersionedTable.vacuumVersions(spark, loc, keepFromVersion = 3L)
    assert(dvDirs.size == 1)
    assert(rows(VersionedTable.read(spark, loc)) == Set.empty[(Int, String)])
  }

  test("updateWhere: atomic delete+append, cardinality preserved, SET sees old row") {
    val loc = tmp("dv5")
    VersionedTable.commit(spark, loc,
      Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v"), "overwrite",
      statsColumns = Seq("k"))
    val v2 = VersionedTable.updateWhere(spark, loc, "k >= 2",
      Map("v" -> "concat(v, '!')", "k" -> "k + 10"))
    assert(v2 == 2L)
    assert(rows(VersionedTable.read(spark, loc)) ==
      Set((1, "a"), (12, "b!"), (13, "c!")))
    // time travel: the pre-update image is intact
    assert(rows(VersionedTable.read(spark, loc, asOf = Some(1L))) ==
      Set((1, "a"), (2, "b"), (3, "c")))
    // metadata row count unchanged (update preserves cardinality)
    val h = VersionedTable.history(spark, loc).collect()
      .map(r => (r.getAs[Long]("version"), Option(r.getAs[Any]("n_rows")))).toMap
    assert(h(2L) == Some(3L))
    // no-match update is a no-op; unknown SET column is a named error
    assert(VersionedTable.updateWhere(spark, loc, "k = 99", Map("v" -> "'x'")) == 2L)
    val e = intercept[IllegalArgumentException](
      VersionedTable.updateWhere(spark, loc, "k = 1", Map("nope" -> "'x'")))
    assert(e.getMessage.contains("nope"))
    // type-preserving contract: an INT literal into the INT k is fine,
    // but changing k's type must be a named error, not a mixed-schema
    // table the next read explodes on
    val et = intercept[graft.config.ConfigError](
      VersionedTable.updateWhere(spark, loc, "k = 12", Map("k" -> "CAST(9 AS BIGINT)")))
    assert(et.getMessage.contains("would change column 'k'"))
  }

  test("updateWhere composes with deletes and merges (no resurrection)") {
    val loc = tmp("dv6")
    VersionedTable.commit(spark, loc,
      Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v"), "overwrite",
      statsColumns = Seq("k"))
    VersionedTable.deleteWhere(spark, loc, "k = 1")
    VersionedTable.updateWhere(spark, loc, "k = 2", Map("v" -> "'B'"))
    assert(rows(VersionedTable.read(spark, loc)) == Set((2, "B"), (3, "c")))
    // a merge rewriting everything must keep both the delete and update
    VersionedTable.merge(spark, loc, Seq((3, "C")).toDF("k", "v"),
      keys = Seq("k"), statsColumns = Seq("k"))
    assert(rows(VersionedTable.read(spark, loc)) == Set((2, "B"), (3, "C")))
  }

  test("branches: write-audit-publish — staging invisible to main, serializable promote") {
    val loc = tmp("br1")
    VersionedTable.commit(spark, loc, Seq((1, "a")).toDF("k", "v"), "overwrite")
    VersionedTable.createBranch(spark, loc, "audit")
    // stage on the branch: main readers see nothing
    VersionedTable.branchCommit(spark, loc, "audit",
      Seq((2, "bad")).toDF("k", "v"), "append")
    assert(rows(VersionedTable.read(spark, loc)) == Set((1, "a")))
    assert(rows(VersionedTable.readBranch(spark, loc, "audit")) ==
      Set((1, "a"), (2, "bad")))
    // audit found the bad row: restage (overwrite) with the fix
    VersionedTable.branchCommit(spark, loc, "audit",
      Seq((1, "a"), (2, "good")).toDF("k", "v"), "overwrite")
    // promote: branch head becomes main v2
    val pv = VersionedTable.publishBranch(spark, loc, "audit")
    assert(pv == 2L)
    assert(rows(VersionedTable.read(spark, loc)) == Set((1, "a"), (2, "good")))
    assert(VersionedTable.branches(spark, loc) == Seq("audit"))
    VersionedTable.dropBranch(spark, loc, "audit")
    assert(VersionedTable.branches(spark, loc).isEmpty)
  }

  test("branches: publish aborts when main moved past the fork point") {
    val loc = tmp("br2")
    VersionedTable.commit(spark, loc, Seq((1, "a")).toDF("k", "v"), "overwrite")
    VersionedTable.createBranch(spark, loc, "exp")
    VersionedTable.branchCommit(spark, loc, "exp",
      Seq((2, "b")).toDF("k", "v"), "append")
    // a concurrent main commit lands after the fork
    VersionedTable.commit(spark, loc, Seq((9, "z")).toDF("k", "v"), "append")
    intercept[java.util.ConcurrentModificationException](
      VersionedTable.publishBranch(spark, loc, "exp"))
    // double-create and bad names are named errors
    intercept[graft.config.ConfigError](
      VersionedTable.createBranch(spark, loc, "exp"))
    intercept[IllegalArgumentException](
      VersionedTable.createBranch(spark, loc, "Bad Name!"))
  }

  test("branches: vacuum keeps branch-only files until the branch is dropped") {
    val loc = tmp("br3")
    VersionedTable.commit(spark, loc, Seq((1, "a")).toDF("k", "v"), "overwrite")
    VersionedTable.createBranch(spark, loc, "wip")
    VersionedTable.branchCommit(spark, loc, "wip",
      Seq((2, "b")).toDF("k", "v"), "append")
    def nDataFiles = new java.io.File(s"$loc/data").listFiles().count(_.isFile)
    val before = nDataFiles
    // main vacuum keeping everything current must NOT touch branch files
    VersionedTable.vacuumVersions(spark, loc, keepFromVersion = 1L,
      minOrphanAgeMillis = 0L)
    assert(nDataFiles == before)
    assert(rows(VersionedTable.readBranch(spark, loc, "wip")) ==
      Set((1, "a"), (2, "b")))
    // dropped branch: its unpublished file reclaims
    VersionedTable.dropBranch(spark, loc, "wip")
    VersionedTable.vacuumVersions(spark, loc, keepFromVersion = 1L,
      minOrphanAgeMillis = 0L)
    assert(nDataFiles < before)
    assert(rows(VersionedTable.read(spark, loc)) == Set((1, "a")))
  }

  test("branchCommit: txn replay is skipped exactly-once, per branch") {
    val loc = tmp("br4")
    VersionedTable.commit(spark, loc, Seq((1, "a")).toDF("k", "v"), "overwrite")
    VersionedTable.createBranch(spark, loc, "ing")
    val v1 = VersionedTable.branchCommit(spark, loc, "ing",
      Seq((2, "b")).toDF("k", "v"), "append", txn = Some(("ckpt", 0L)))
    // WAL replay of batch 0: the same version comes back, nothing doubles
    val v2 = VersionedTable.branchCommit(spark, loc, "ing",
      Seq((2, "b")).toDF("k", "v"), "append", txn = Some(("ckpt", 0L)))
    assert(v1 == v2)
    assert(rows(VersionedTable.readBranch(spark, loc, "ing")) ==
      Set((1, "a"), (2, "b")))
    // the next batch advances
    VersionedTable.branchCommit(spark, loc, "ing",
      Seq((3, "c")).toDF("k", "v"), "append", txn = Some(("ckpt", 1L)))
    assert(rows(VersionedTable.readBranch(spark, loc, "ing")) ==
      Set((1, "a"), (2, "b"), (3, "c")))
  }

  test("compactDeletes: only delete-heavy files rewrite; the rest carry with their DV") {
    val loc = tmp("dvc")
    // two one-row-group files via two separate appends
    VersionedTable.commit(spark, loc,
      Seq((1, "a"), (2, "b"), (3, "c"), (4, "d")).toDF("k", "v").coalesce(1),
      "overwrite", statsColumns = Seq("k"))
    VersionedTable.commit(spark, loc,
      Seq((10, "x"), (11, "y"), (12, "z"), (13, "w")).toDF("k", "v").coalesce(1),
      "append", statsColumns = Seq("k"))
    // 3/4 deleted in file 1, 1/4 in file 2
    VersionedTable.deleteWhere(spark, loc, "k IN (1, 2, 3, 10)")
    val filesBefore = new java.io.File(s"$loc/data").listFiles().map(_.getName).toSet
    val (v, n) = VersionedTable.compactDeletes(spark, loc, minDeletedFraction = 0.5)
    assert(n == 1) // only the 75%-deleted file qualifies at 0.5
    val filesAfter = new java.io.File(s"$loc/data").listFiles().map(_.getName).toSet
    assert((filesBefore -- filesAfter).isEmpty, "data namespace is append-only")
    // content unchanged through the rewrite; the carried file's DV still applies
    assert(rows(VersionedTable.read(spark, loc)) ==
      Set((4, "d"), (11, "y"), (12, "z"), (13, "w")))
    // the remaining DV covers only the carried file's one delete
    val text = scala.io.Source.fromFile(
      new java.io.File(s"$loc/_graft_log").listFiles()
        .filter(_.getName.matches("v\\d+\\.json")).sortBy(_.getName).last).mkString
    assert(text.contains("\"dv_rows\":1"))
    // below-threshold state: a second pass is a no-op
    assert(VersionedTable.compactDeletes(spark, loc, minDeletedFraction = 0.5) == ((v, 0)))
  }

  test("rebaseBranch: staged appends survive a moved main; publish then succeeds") {
    val loc = tmp("br5")
    VersionedTable.commit(spark, loc, Seq((1, "a")).toDF("k", "v"), "overwrite")
    VersionedTable.createBranch(spark, loc, "exp")
    VersionedTable.branchCommit(spark, loc, "exp",
      Seq((2, "b")).toDF("k", "v"), "append")
    // main moves past the fork: publish conflicts, rebase repairs
    VersionedTable.commit(spark, loc, Seq((9, "z")).toDF("k", "v"), "append")
    intercept[java.util.ConcurrentModificationException](
      VersionedTable.publishBranch(spark, loc, "exp"))
    VersionedTable.rebaseBranch(spark, loc, "exp")
    assert(rows(VersionedTable.readBranch(spark, loc, "exp")) ==
      Set((1, "a"), (9, "z"), (2, "b")))
    val pv = VersionedTable.publishBranch(spark, loc, "exp")
    assert(rows(VersionedTable.read(spark, loc)) ==
      Set((1, "a"), (9, "z"), (2, "b")))
    assert(pv == 3L)
    // an overwrite-staged branch refuses to rebase by name
    VersionedTable.createBranch(spark, loc, "ow")
    VersionedTable.branchCommit(spark, loc, "ow",
      Seq((5, "q")).toDF("k", "v"), "overwrite")
    VersionedTable.commit(spark, loc, Seq((6, "r")).toDF("k", "v"), "append")
    val e = intercept[graft.config.ConfigError](
      VersionedTable.rebaseBranch(spark, loc, "ow"))
    assert(e.getMessage.contains("non-append"))
    // the crash-safe rewrite leaves no temp-branch debris behind and the
    // branch namespace holds exactly the real names
    val logFiles = new java.io.File(s"$loc/_graft_log").listFiles().map(_.getName)
    assert(!logFiles.exists(_.contains("rebase-")),
      s"temp rebase manifests left behind: ${logFiles.mkString(", ")}")
    assert(VersionedTable.branches(spark, loc).toSet == Set("exp", "ow"))
  }

  test("CDC source drains: bootstrap + incremental, crash replay skipped by the txn sink, non-append refusal") {
    val loc = tmp("cdcsrc"); val ckpt = tmp("cdcsrc-ckpt"); val out = tmp("cdcsrc-out")
    VersionedTable.commit(spark, loc,
      Seq((1, "a"), (2, "b")).toDF("k", "v"), "overwrite")
    // exactly-once composition: each drained batch commits into a
    // versioned sink keyed (checkpoint id, toVersion)
    def drainToOut() = graft.streaming.Streams.drainVersionedChanges(
      spark, loc, ckpt) { (df, _, to) =>
      VersionedTable.commit(spark, out, df, "append",
        txn = Some((s"cdc:$ckpt", to))): Unit
    }
    def outRows = VersionedTable.read(spark, out).collect()
      .map(r => (r.getAs[Int]("k"), r.getAs[String]("v"),
        r.getAs[Long]("_commit_version"))).toSet
    assert(drainToOut() == Some((0L, 1L)), "bootstrap covers (0,1]")
    VersionedTable.commit(spark, loc, Seq((3, "c")).toDF("k", "v"), "append")
    assert(drainToOut() == Some((1L, 2L)), "incremental covers (1,2]")
    val expect = Set((1, "a", 1L), (2, "b", 1L), (3, "c", 2L))
    assert(outRows == expect)
    val outVersionsBefore = VersionedTable.versions(spark, out)
    // CRASH REPLAY: the offset write was lost — rewind it by hand; the
    // re-drain reprocesses (1,2] but the txn sink skips the replayed
    // commit, so nothing lands twice
    val offsetPath = new org.apache.hadoop.fs.Path(ckpt, "_graft_cdc_offset.json")
    val fs = offsetPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val os = fs.create(offsetPath, true)
    try os.write("""{"version":1}""".getBytes("UTF-8")) finally os.close()
    assert(drainToOut() == Some((1L, 2L)), "the replayed drain re-covers (1,2]")
    assert(outRows == expect, "replay must not duplicate rows")
    assert(VersionedTable.versions(spark, out) == outVersionsBefore,
      "the replayed commit must be a txn no-op")
    // up to date: nothing drains, the offset stays
    assert(drainToOut().isEmpty)
    // NON-APPEND history refuses by name (the changesBetween contract)
    VersionedTable.deleteWhere(spark, loc, "k = 1")
    val e = intercept[graft.config.ConfigError](drainToOut())
    assert(e.getMessage.contains("diffVersions"), e.getMessage)
  }

  test("CDC rate limit: maxVersionsPerDrain bounds every batch (bootstrap included) and the catch-up loop folds to the head") {
    val loc = tmp("cdcrate"); val ckpt = tmp("cdcrate-ckpt")
    VersionedTable.commit(spark, loc, Seq((1, "a")).toDF("k", "v"), "overwrite")
    VersionedTable.commit(spark, loc, Seq((2, "b")).toDF("k", "v"), "append")
    VersionedTable.commit(spark, loc, Seq((3, "c")).toDF("k", "v"), "append")
    VersionedTable.commit(spark, loc, Seq((4, "d")).toDF("k", "v"), "append")
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Set[Int])]
    def drain() = graft.streaming.Streams.drainVersionedChanges(
      spark, loc, ckpt, maxVersionsPerDrain = Some(2)) { (df, from, to) =>
      seen += ((from, to, df.collect().map(_.getAs[Int]("k")).toSet))
    }
    // bounded BOOTSTRAP: the snapshot is taken AT v2, not the head
    assert(drain() == Some((0L, 2L)))
    assert(seen.last == ((0L, 2L, Set(1, 2))))
    // progression: the next drain advances the remaining two commits
    assert(drain() == Some((2L, 4L)))
    assert(seen.last == ((2L, 4L, Set(3, 4))))
    assert(drain().isEmpty, "caught up")
    // the quiescence loop on a fresh checkpoint: one commit per batch,
    // ranges in order, offset progression observable per batch
    val ckpt2 = tmp("cdcrate-ckpt2")
    val batches = scala.collection.mutable.ArrayBuffer.empty[Set[Int]]
    val ranges = graft.streaming.Streams.drainVersionedToQuiescence(
      spark, loc, ckpt2, maxVersionsPerDrain = Some(1)) { (df, _, _) =>
      batches += df.collect().map(_.getAs[Int]("k")).toSet
    }
    assert(ranges == Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L)))
    assert(batches.toSeq == Seq(Set(1), Set(2), Set(3), Set(4)))
    // the floor is validated by name
    val bad = intercept[IllegalArgumentException] {
      graft.streaming.Streams.drainVersionedChanges(
        spark, loc, ckpt, maxVersionsPerDrain = Some(0))((_, _, _) => ())
    }
    assert(bad.getMessage.contains("maxVersionsPerDrain"))
  }

  test("CDC bytes bound: maxBytesPerDrain splits uneven commits, floors at one version, composes with the count bound") {
    val loc = tmp("cdcbytes"); val ckpt = tmp("cdcbytes-ckpt")
    // v1 small, v2 LARGE (5k wide rows), v3 + v4 small — the uneven
    // history a version-count bound cannot budget
    VersionedTable.commit(spark, loc, Seq((1, "a")).toDF("k", "v"), "overwrite")
    VersionedTable.commit(spark, loc,
      spark.range(1000, 6000).selectExpr("CAST(id AS INT) AS k",
        "repeat(CAST(id AS STRING), 20) AS v").coalesce(1), "append")
    VersionedTable.commit(spark, loc, Seq((2, "b")).toDF("k", "v"), "append")
    VersionedTable.commit(spark, loc, Seq((3, "c")).toDF("k", "v"), "append")
    val bytes = VersionedTable.history(spark, loc).collect()
      .map(r => (r.getAs[Long]("version"), r.getAs[Long]("total_bytes"))).toMap
    // budget = exactly the v3+v4 appended bytes: fits v1 alone (small),
    // NOT v1+v2; v2 alone exceeds it (floor drains it solo); v3+v4
    // fold into one batch
    val budget = bytes(4L) - bytes(2L)
    assert(bytes(1L) <= budget && bytes(2L) - bytes(1L) > budget,
      s"fixture precondition: $bytes, budget $budget")
    val counts = scala.collection.mutable.ArrayBuffer.empty[Long]
    val ranges = graft.streaming.Streams.drainVersionedToQuiescence(
      spark, loc, ckpt, maxBytesPerDrain = Some(budget)) { (df, _, _) =>
      counts += df.count()
    }
    assert(ranges == Seq((0L, 1L), (1L, 2L), (2L, 4L)), ranges.toString)
    assert(counts.toSeq == Seq(1L, 5000L, 2L), counts.toString)
    // both bounds compose: the tighter (count=1) head wins on the tail
    val ckpt2 = tmp("cdcbytes-ckpt2")
    val ranges2 = graft.streaming.Streams.drainVersionedToQuiescence(
      spark, loc, ckpt2, maxVersionsPerDrain = Some(1),
      maxBytesPerDrain = Some(budget))((_, _, _) => ())
    assert(ranges2 == Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L)), ranges2.toString)
    // floor validated by name
    val bad = intercept[IllegalArgumentException] {
      graft.streaming.Streams.drainVersionedChanges(
        spark, loc, ckpt, maxBytesPerDrain = Some(0L))((_, _, _) => ())
    }
    assert(bad.getMessage.contains("maxBytesPerDrain"))
  }

  test("rebase crash recovery: a marker-decided rebase is finished by the next branch read; undecided debris expires") {
    // coordinator that delegates to the rename one but dies on its Nth
    // publish — replays the exact crash points of rebaseBranch's publish
    // sequence: temp fork (1), temp append CAS (2), commit marker (3),
    // real fork (4), real append (5)
    final class FailNth(n: Int) extends CommitCoordinator {
      private var count = 0
      def publish(fs: org.apache.hadoop.fs.FileSystem,
                  logDir: org.apache.hadoop.fs.Path,
                  dst: org.apache.hadoop.fs.Path,
                  content: Array[Byte]): Boolean = {
        count += 1
        if (count == n) throw new java.io.IOException("injected crash")
        RenameCommitCoordinator.publish(fs, logDir, dst, content)
      }
    }
    def logFiles(loc: String) =
      new java.io.File(s"$loc/_graft_log").listFiles().map(_.getName).toSeq
    val prev = VersionedTable.commitCoordinator

    // DECIDED crash: dies after the commit marker, before any real-name
    // publish — the old lineage is deleted and the branch would be
    // unreadable under its real name; the next read must finish the job
    val loc = tmp("br-crash")
    VersionedTable.commit(spark, loc, Seq((1, "a")).toDF("k", "v"), "overwrite")
    VersionedTable.createBranch(spark, loc, "exp")
    VersionedTable.branchCommit(spark, loc, "exp", Seq((2, "b")).toDF("k", "v"), "append")
    VersionedTable.commit(spark, loc, Seq((9, "z")).toDF("k", "v"), "append")
    VersionedTable.setCommitCoordinator(new FailNth(4))
    try intercept[java.io.IOException](VersionedTable.rebaseBranch(spark, loc, "exp"))
    finally VersionedTable.setCommitCoordinator(prev)
    assert(logFiles(loc).exists(_.startsWith(".rebase-commit-exp-")),
      "the decision marker must survive the crash")
    assert(rows(VersionedTable.readBranch(spark, loc, "exp")) ==
      Set((1, "a"), (9, "z"), (2, "b")),
      "the next branch read must adopt the decided lineage")
    assert(!logFiles(loc).exists(_.contains("rebase-")),
      s"recovery must clear all rebase debris: ${logFiles(loc)}")

    // mid-publish crash: real fork published, real append not — same
    // recovery, idempotent over the already-published half
    val loc2 = tmp("br-crash2")
    VersionedTable.commit(spark, loc2, Seq((1, "a")).toDF("k", "v"), "overwrite")
    VersionedTable.createBranch(spark, loc2, "exp")
    VersionedTable.branchCommit(spark, loc2, "exp", Seq((2, "b")).toDF("k", "v"), "append")
    VersionedTable.commit(spark, loc2, Seq((9, "z")).toDF("k", "v"), "append")
    VersionedTable.setCommitCoordinator(new FailNth(5))
    try intercept[java.io.IOException](VersionedTable.rebaseBranch(spark, loc2, "exp"))
    finally VersionedTable.setCommitCoordinator(prev)
    assert(rows(VersionedTable.readBranch(spark, loc2, "exp")) ==
      Set((1, "a"), (9, "z"), (2, "b")))
    assert(!logFiles(loc2).exists(_.contains("rebase-")))

    // UNDECIDED crash: dies writing the marker — the old branch is
    // intact by construction; the temp lineage is debris that expires
    // past the TTL, and a rerun of the rebase then succeeds
    val loc3 = tmp("br-crash3")
    VersionedTable.commit(spark, loc3, Seq((1, "a")).toDF("k", "v"), "overwrite")
    VersionedTable.createBranch(spark, loc3, "exp")
    VersionedTable.branchCommit(spark, loc3, "exp", Seq((2, "b")).toDF("k", "v"), "append")
    VersionedTable.commit(spark, loc3, Seq((9, "z")).toDF("k", "v"), "append")
    VersionedTable.setCommitCoordinator(new FailNth(3))
    try intercept[java.io.IOException](VersionedTable.rebaseBranch(spark, loc3, "exp"))
    finally VersionedTable.setCommitCoordinator(prev)
    // fresh debris is left alone (a live rebase may own it)
    assert(rows(VersionedTable.readBranch(spark, loc3, "exp")) == Set((1, "a"), (2, "b")),
      "an undecided rebase leaves the old branch intact")
    assert(logFiles(loc3).exists(_.contains("@exp.rebase-")))
    Thread.sleep(50)
    spark.conf.set("spark.graft.rebase.recovery.ttl.ms", "10")
    try {
      assert(rows(VersionedTable.readBranch(spark, loc3, "exp")) == Set((1, "a"), (2, "b")))
      assert(!logFiles(loc3).exists(_.contains("rebase-")),
        s"expired undecided debris must be cleared: ${logFiles(loc3)}")
    } finally spark.conf.unset("spark.graft.rebase.recovery.ttl.ms")
    VersionedTable.rebaseBranch(spark, loc3, "exp")
    assert(rows(VersionedTable.readBranch(spark, loc3, "exp")) ==
      Set((1, "a"), (9, "z"), (2, "b")))

    // HELPED race (r12 ADVICE): a concurrent branch READ runs recovery
    // on the marker-decided rebase and finishes it UNDER the live
    // rebase — publishing the real-name twins and deleting the tmp
    // manifests. The live rebase must adopt the helper's outcome
    // (missing tmp + published twin = already-published), not report
    // failure on a rebase that completed consistently.
    val loc4 = tmp("br-helped")
    VersionedTable.commit(spark, loc4, Seq((1, "a")).toDF("k", "v"), "overwrite")
    VersionedTable.createBranch(spark, loc4, "exp")
    VersionedTable.branchCommit(spark, loc4, "exp", Seq((2, "b")).toDF("k", "v"), "append")
    VersionedTable.commit(spark, loc4, Seq((9, "z")).toDF("k", "v"), "append")
    val sp = spark
    final class HelpOnRealPublish extends CommitCoordinator {
      @volatile private var helped = false
      def publish(fs: org.apache.hadoop.fs.FileSystem,
                  logDir: org.apache.hadoop.fs.Path,
                  dst: org.apache.hadoop.fs.Path,
                  content: Array[Byte]): Boolean = {
        if (!helped && dst.getName.matches("^v[0-9]+@exp\\.json$")) {
          helped = true // before the read: recovery publishes through us too
          VersionedTable.branchVersions(sp, loc4, "exp"): Unit
        }
        RenameCommitCoordinator.publish(fs, logDir, dst, content)
      }
    }
    VersionedTable.setCommitCoordinator(new HelpOnRealPublish)
    try {
      val v = VersionedTable.rebaseBranch(spark, loc4, "exp")
      assert(v == 2L, s"helped rebase must still report success, got v$v")
    } finally VersionedTable.setCommitCoordinator(prev)
    assert(rows(VersionedTable.readBranch(spark, loc4, "exp")) ==
      Set((1, "a"), (9, "z"), (2, "b")),
      "the helped rebase must leave the adopted lineage readable")
    assert(!logFiles(loc4).exists(_.contains("rebase-")),
      s"no rebase debris may survive the helped completion: ${logFiles(loc4)}")
  }

  test("LockFileCommitCoordinator: exactly one of N concurrent publishers wins a version") {
    // the coordinator restricts itself to overwrite-only-store primitives
    // (PUT to a unique key, LIST, EXISTS — never rename/create-if-absent),
    // so running it on the local FS IS the no-CAS-store simulation
    val loc = tmp("lockprim")
    val root = new org.apache.hadoop.fs.Path(loc)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val logDir = new org.apache.hadoop.fs.Path(root, "_graft_log")
    fs.mkdirs(logDir)
    val dst = new org.apache.hadoop.fs.Path(logDir, "v00001.json")
    val coord = new LockFileCommitCoordinator(30)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    try {
      val wins = (1 to 6).map { i =>
        pool.submit(new java.util.concurrent.Callable[Boolean] {
          def call(): Boolean =
            coord.publish(fs, logDir, dst, s"""{"writer":$i}""".getBytes("UTF-8"))
        })
      }.map(_.get())
      assert(wins.count(identity) == 1, s"expected exactly one winner, got $wins")
      // the committed manifest is exactly one writer's full content
      val text = new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(
        fs.open(dst)), "UTF-8")
      assert(text.matches("""\{"writer":[1-6]\}"""), text)
    } finally pool.shutdown()
  }

  test("lockfile coordinator: a crashed writer's orphan intent expires with the lease") {
    val loc = tmp("lockleasing")
    val root = new org.apache.hadoop.fs.Path(loc)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val logDir = new org.apache.hadoop.fs.Path(root, "_graft_log")
    val dst = new org.apache.hadoop.fs.Path(logDir, "v00001.json")
    val intentDir = new org.apache.hadoop.fs.Path(logDir, ".intent-v00001.json")
    fs.mkdirs(intentDir)
    def plantIntent(ts: Long): Unit = {
      val os = fs.create(new org.apache.hadoop.fs.Path(intentDir,
        f"$ts%020d-deadbeef"), true)
      os.close()
    }
    val coord = new LockFileCommitCoordinator(settleMillis = 20, leaseMillis = 300)
    // a FRESH competing intent (crash not yet provable) blocks the win
    plantIntent(System.currentTimeMillis())
    assert(!coord.publish(fs, logDir, dst, "{}".getBytes("UTF-8")),
      "a live-looking smaller intent must win the election")
    // once it outlives the lease it is ignored AND garbage-collected,
    // so the table does not become permanently unwritable
    Thread.sleep(350)
    assert(coord.publish(fs, logDir, dst, """{"v":1}""".getBytes("UTF-8")),
      "an expired orphan intent must not block the version forever")
    assert(fs.exists(dst))
  }

  test("lockfile coordinator: two-writer commit race on a no-CAS store loses zero commits") {
    val loc = tmp("lockrace")
    val prev = VersionedTable.commitCoordinator
    VersionedTable.setCommitCoordinator(new LockFileCommitCoordinator(20))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      VersionedTable.commit(spark, loc, Seq((0, "base")).toDF("k", "v"), "overwrite")
      // 8 concurrent appenders: every CAS loser must rebase and retry
      // until its rows land — an overwrite-PUT store without the
      // coordinator would let two writers clobber the same version
      val futures = (1 to 8).map { i =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = VersionedTable.commit(spark, loc,
            Seq((i, s"w$i")).toDF("k", "v"), "append", maxRetries = 60)
        })
      }
      val versions = futures.map(_.get()).sorted
      assert(versions == (2L to 9L), s"every writer must win a distinct version: $versions")
      assert(VersionedTable.versions(spark, loc) == (1L to 9L))
      assert(rows(VersionedTable.read(spark, loc)) ==
        (Set((0, "base")) ++ (1 to 8).map(i => (i, s"w$i"))),
        "zero commits lost under the race")
    } finally {
      pool.shutdown()
      VersionedTable.setCommitCoordinator(prev)
    }
  }

  test("restore: metadata-only rollback, DV carried, history preserved, vacuum-safe") {
    val loc = tmp("restore")
    VersionedTable.commit(spark, loc, Seq((1, "a"), (2, "b")).toDF("k", "v"), "overwrite")
    VersionedTable.deleteWhere(spark, loc, "k = 2") // v2 carries a DV
    VersionedTable.commit(spark, loc, Seq((9, "z")).toDF("k", "v"), "overwrite") // v3: the bad deploy
    val v = VersionedTable.restore(spark, loc, 2L)
    assert(v == 4L)
    // the restored head sees v2's content THROUGH its deletion vector
    assert(rows(VersionedTable.read(spark, loc)) == Set((1, "a")))
    // history preserved: the bad version stays time-travelable
    assert(rows(VersionedTable.read(spark, loc, asOf = Some(3L))) == Set((9, "z")))
    assert(VersionedTable.versions(spark, loc) == (1L to 4L))
    // restore-to-latest is a no-op, unknown version errors by name
    assert(VersionedTable.restore(spark, loc, 4L) == 4L)
    val e = intercept[graft.config.ConfigError](VersionedTable.restore(spark, loc, 99L))
    assert(e.getMessage.contains("99"))
    // vacuum keeps the restored head's (old) files: dropping history
    // below v4 must not reclaim what v4 references
    VersionedTable.vacuumVersions(spark, loc, 4L, minOrphanAgeMillis = 0L)
    assert(rows(VersionedTable.read(spark, loc)) == Set((1, "a")))
    assert(VersionedTable.versions(spark, loc) == Seq(4L))
  }

  test("updateWhere/deleteWhere: a nondeterministic predicate cannot desync the DV from the images") {
    val loc = tmp("nondet")
    val n = 400
    VersionedTable.commit(spark, loc,
      (1 to n).map(i => (i, "x")).toDF("k", "v"), "overwrite",
      options = Map.empty)
    // the matched set is pinned once (localCheckpoint) — without that,
    // the count, the DV positions, and the updated images would each
    // re-draw rand() and the "atomic" commit could lose/duplicate rows
    VersionedTable.updateWhere(spark, loc, "rand() < 0.5", Map("v" -> "'u'"))
    val after = VersionedTable.read(spark, loc)
    assert(after.count() == n.toLong, "update must preserve the row count")
    assert(after.select("k").distinct().count() == n.toLong,
      "every key must appear exactly once after a nondeterministic update")
    VersionedTable.deleteWhere(spark, loc, "rand() < 0.3")
    val live = VersionedTable.read(spark, loc)
    assert(live.select("k").distinct().count() == live.count(),
      "a nondeterministic delete must not duplicate surviving rows")
  }

  test("stats columns with control chars in their names read back decoded") {
    val loc = tmp("ctl")
    VersionedTable.commit(spark, loc, Seq((1, 2)).toDF("a\tb", "v"), "overwrite",
      statsColumns = Seq("a\tb"))
    val stats = VersionedTable.fileStats(spark, loc, 1L)
    assert(stats.values.flatMap(_.keys).toSet == Set("a\tb"))
    assert(VersionedTable.trackedStatsColumns(spark, loc) == Seq("a\tb"))
  }

  test("zone-map bounds stay exact past 2^53 and at decimal(38,18)") {
    val loc = tmp("exact")
    val (dLo, dHi) = (BigDecimal("12345678901234567890.123456789012345678"),
      BigDecimal("12345678901234567890.123456789012345679"))
    // two one-row files whose bounds differ only beyond double precision
    VersionedTable.commit(spark, loc, Seq((Long.MaxValue - 1, dLo)).toDF("k", "d")
      .coalesce(1), "overwrite", statsColumns = Seq("k", "d"))
    VersionedTable.commit(spark, loc, Seq((Long.MaxValue, dHi)).toDF("k", "d")
      .coalesce(1), "append", statsColumns = Seq("k", "d"))
    val stats = VersionedTable.fileStats(spark, loc, 2L)
    val bounds = stats.values.map(cs => (cs("k").min, cs("k").max, cs("d").min, cs("d").max)).toSet
    assert(bounds == Set(
      (VersionedTable.canonToken(Long.MaxValue - 1), VersionedTable.canonToken(Long.MaxValue - 1),
        VersionedTable.canonToken(dLo.bigDecimal), VersionedTable.canonToken(dLo.bigDecimal)),
      (VersionedTable.canonToken(Long.MaxValue), VersionedTable.canonToken(Long.MaxValue),
        VersionedTable.canonToken(dHi.bigDecimal), VersionedTable.canonToken(dHi.bigDecimal))))
    def kept(p: VersionedTable.Prune): Seq[Long] = {
      val scan = VersionedTable.readPruned(spark, loc, Seq(p))
      assert(scan.totalFiles == 2)
      scan.df.collect().map(_.getAs[Long]("k")).toSeq
    }
    assert(kept(VersionedTable.Prune("k", "=", Long.MaxValue)) == Seq(Long.MaxValue))
    assert(kept(VersionedTable.Prune("k", ">=", Long.MaxValue)) == Seq(Long.MaxValue))
    assert(kept(VersionedTable.Prune("k", "<", Long.MaxValue)) == Seq(Long.MaxValue - 1))
    assert(kept(VersionedTable.Prune("d", ">", dLo.bigDecimal)) == Seq(Long.MaxValue))
    assert(kept(VersionedTable.Prune("d", "<=", dLo.bigDecimal)) == Seq(Long.MaxValue - 1))
  }

  test("reads, deletes and merges launch no schema-inference jobs") {
    val loc = tmp("jobs")
    VersionedTable.commit(spark, loc, (1 to 40).map(k => (k, s"v$k")).toDF("k", "v")
      .repartition(4), "overwrite", statsColumns = Seq("k"))
    // building a read plans only: the manifest's schema replaces the
    // footer job, and the deletion vector has a fixed schema
    assert(jobsOf(VersionedTable.read(spark, loc))._2 == 0)
    // pin the matched positions, count them (a map and a result job),
    // write the deletion vector: no job reads a footer
    assert(jobsOf(VersionedTable.deleteWhere(spark, loc, "k % 7 = 0"))._2 == 4)
    assert(jobsOf(VersionedTable.read(spark, loc))._2 == 0)
    // key bounds, merged write, new files' stats, carried deletion
    // vector's count and rewrite: no job reads a footer
    val (v, jobs) = jobsOf(VersionedTable.merge(spark, loc,
      Seq((3, "x"), (41, "y")).toDF("k", "v"), Seq("k"), statsColumns = Seq("k")))
    assert(jobs == 8)
    assert(rows(VersionedTable.read(spark, loc, asOf = Some(v))) ==
      (1 to 41).filter(_ % 7 != 0).map(k => (k, k match {
        case 3 => "x"; case 41 => "y"; case _ => s"v$k" })).toSet)
  }

  test("every manifest writer records the schema its files are read with") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val loc = tmp("fidelity")
    val note = new MetadataBuilder().putString("comment", "free text").build()
    val schema = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("amount", DecimalType(38, 18)),
      StructField("at", TimestampType),
      StructField("local_at", TimestampNTZType),
      StructField("day", DateType),
      StructField("blob", BinaryType),
      StructField("items", ArrayType(StructType(Seq(
        StructField("sku", StringType), StructField("qty", IntegerType))))),
      StructField("tags", MapType(StringType, LongType)),
      StructField("dims", StructType(Seq(
        StructField("w", IntegerType, nullable = false), StructField("h", DoubleType)))),
      StructField("note", StringType, nullable = true, note)))
    def row(k: Long, text: String): Row = Row(k,
      new java.math.BigDecimal(s"12345678901234567890.$k").setScale(18),
      java.sql.Timestamp.valueOf(s"2024-01-0${k % 9 + 1} 12:34:56.123456"),
      java.time.LocalDateTime.of(2024, 2, 1, 0, 0).plusSeconds(k),
      java.sql.Date.valueOf(s"2024-03-0${k % 9 + 1}"),
      Array[Byte](k.toByte, 0, -1),
      Seq(Row(s"sku$k", k.toInt), Row(null, null)),
      Map(s"t$k" -> k),
      Row(k.toInt, k / 2.0),
      text)
    def frame(rs: Seq[Row]) = spark.createDataFrame(
      java.util.Arrays.asList(rs: _*), schema).coalesce(1)
    var model = Map.empty[Long, Row]
    def sorted(rs: Iterable[Row]) = rs.toSeq.sortBy(_.getLong(0))
    // the schema is recorded, the versioned read declares it, and it
    // equals what Spark infers from that version's files; rows match
    def check(v: Long, branch: String = ""): Unit = {
      assert(manifest(loc, v, branch).schema.isDefined, s"v$v@$branch records no schema")
      val got =
        if (branch.isEmpty) VersionedTable.read(spark, loc, asOf = Some(v))
        else VersionedTable.readBranch(spark, loc, branch, asOf = Some(v))
      assert(got.schema == spark.read.parquet(files(loc, v, branch): _*).schema, s"v$v@$branch")
      assert(got.schema("note").metadata == note)
      assert(sorted(got.collect()) == sorted(model.values), s"v$v@$branch")
    }
    def put(rs: Row*): Unit = model ++= rs.map(r => r.getLong(0) -> r)

    put((1L to 4L).map(row(_, "base")): _*)
    check(VersionedTable.commit(spark, loc, frame(model.values.toSeq), "overwrite",
      statsColumns = Seq("k")))
    put(row(5, "appended"), row(6, "appended"))
    check(VersionedTable.commit(spark, loc, frame(Seq(row(5, "appended"), row(6, "appended"))),
      "append", statsColumns = Seq("k")))
    put(row(6, "merged"), row(7, "merged"))
    check(VersionedTable.merge(spark, loc, frame(Seq(row(6, "merged"), row(7, "merged"))),
      Seq("k"), statsColumns = Seq("k")))
    model -= 2L
    check(VersionedTable.deleteWhere(spark, loc, "k = 2"))
    put(row(3, "updated"))
    check(VersionedTable.updateWhere(spark, loc, "k = 3", Map("note" -> "'updated'")))
    val (compacted, rewritten) = VersionedTable.compactDeletes(spark, loc, 0.01)
    assert(rewritten > 0)
    check(compacted)
    // the streaming incremental sink's commit: an append with a txn
    put(row(8, "streamed"))
    check(VersionedTable.commit(spark, loc, frame(Seq(row(8, "streamed"))), "append",
      txn = Some(("ckpt", 0L))))
    model = (1L to 6L).map(k => k -> row(k, if (k > 4) "appended" else "base")).toMap
    check(VersionedTable.restore(spark, loc, 2L))
    check(VersionedTable.createBranch(spark, loc, "audit"), "audit")
    val staged = row(9, "staged")
    put(staged)
    check(VersionedTable.branchCommit(spark, loc, "audit", frame(Seq(staged)), "append"),
      "audit")
    // main moves on; the rebased branch forks at main's head and appends
    // its staged rows again
    model -= 9L
    put(row(10, "main"))
    check(VersionedTable.commit(spark, loc, frame(Seq(row(10, "main"))), "append"))
    val fork = VersionedTable.rebaseBranch(spark, loc, "audit")
    check(fork, "audit")
    put(staged)
    check(fork + 1, "audit")
    check(VersionedTable.publishBranch(spark, loc, "audit"))
    // a legacy manifest without the field reads the same rows and schema
    val latest = VersionedTable.versions(spark, loc).last
    val before = VersionedTable.read(spark, loc)
    val p = manifestPath(loc, latest)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.util.Json.writeFile(fs, p,
      graft.util.Json.write(manifest(loc, latest).copy(schema = None)))
    val legacy = VersionedTable.read(spark, loc)
    assert(legacy.schema == before.schema)
    assert(sorted(legacy.collect()) == sorted(before.collect()))
    // ... and the next append through it infers its base again
    put(row(11, "after legacy"))
    val v = VersionedTable.commit(spark, loc, frame(Seq(row(11, "after legacy"))), "append")
    assert(manifest(loc, v).schema.isEmpty)
    assert(sorted(VersionedTable.read(spark, loc).collect()) == sorted(model.values))
  }

  test("a CSV versioned table still infers its read schema") {
    val loc = tmp("csv")
    val opts = Map("header" -> "true")
    VersionedTable.commit(spark, loc, Seq((1, "a"), (2, "b")).toDF("k", "v"), "overwrite",
      format = "csv", options = opts)
    assert(manifest(loc, 1L).schema.isDefined)
    val got = VersionedTable.read(spark, loc, format = "csv", options = opts)
    // CSV reads back strings, not the INT the frame was written with
    assert(got.schema == spark.read.options(opts).csv(files(loc, 1L): _*).schema)
    assert(got.schema("k").dataType == org.apache.spark.sql.types.StringType)
    assert(got.collect().map(r => (r.getString(0), r.getString(1))).toSet ==
      Set(("1", "a"), ("2", "b")))
  }
}
