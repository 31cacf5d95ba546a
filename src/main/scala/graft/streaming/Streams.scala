package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._
import graft.util.Json

/** Structured Streaming tier over the `events` fixture — beyond-reference
  * extension (the reference is batch-only; SURVEY §1 "Streaming: none").
  * Same engine shapes a production event pipeline needs: file-source
  * `readStream` → event-time windowed aggregation → sink, and custom
  * session state via `flatMapGroupsWithState`.
  *
  * Scale notes: the file source incrementally lists new files (the
  * streaming analog of [[graft.bookmarks.BookmarkStore]], with exactly-once
  * via the checkpoint WAL); windowed aggregation state is bounded by the
  * watermark; sessionization state is one small struct per active user.
  */
object Streams {

  /** The raw on-disk schema of events.parquet. The fixture has shipped in
    * two layouts across driver rounds — TIMESTAMP(NANOS) (arrives as
    * LongType nanos under the nanosAsLong conf) and plain timestamp[us]
    * (arrives as TimestampType with NTZ inference off, TIMESTAMP_NTZ
    * otherwise). The streaming file source needs an EXPLICIT schema, so
    * probe the batch footer and declare exactly what is there. */
  def eventsRawSchema(spark: SparkSession, dir: String): StructType =
    spark.read.parquet(s"$dir/events.parquet").schema

  /** Normalize the raw `ts` to TimestampType µs instants regardless of
    * layout: nanos-long → `timestamp_micros(ts div 1000)` (integer div —
    * a double mantissa can't hold ns-epoch values); TIMESTAMP_NTZ → cast
    * under the UTC session zone (the same instant DuckDB reads). */
  def normalizeTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
    case _ => df
  }

  /** Stage dirs are tagged with the raw ts type so a fixture-layout swap
    * between rounds can never silently reuse a stale staged copy whose
    * schema no longer matches the declared one. */
  private def tsTag(schema: StructType): String = schema("ts").dataType.typeName

  def readEventsStream(spark: SparkSession, dir: String): DataFrame = {
    val schema = eventsRawSchema(spark, dir)
    // the file stream source requires a DIRECTORY; the fixture is a single
    // file → stage it into a scratch dir once (idempotent)
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new org.apache.hadoop.fs.Path(s"$dir/events.parquet")
    val stage = new org.apache.hadoop.fs.Path(
      s"/tmp/graft-stream/${dir.replaceAll("[^A-Za-z0-9]", "_")}/events_${tsTag(schema)}")
    val fs = stage.getFileSystem(conf)
    val dst = new org.apache.hadoop.fs.Path(stage, "events.parquet")
    if (!fs.exists(dst)) {
      fs.mkdirs(stage)
      org.apache.hadoop.fs.FileUtil.copy(src.getFileSystem(conf), src, fs, dst, false, conf)
    }
    normalizeTs(spark.readStream.schema(schema).parquet(stage.toString))
  }

  /** The events stream plus a tail HEARTBEAT: one synthetic row per join
    * side (user_id = -1) two hours past the fixture's max event time,
    * staged beside the data. A bounded replay — like a production stream
    * gone idle — leaves the watermark 30 minutes short of the tail, so
    * watermark-gated state there (outer-join nulls, final windows) can
    * never prove itself closed and never flushes. The heartbeat is the
    * standard production fix (idle-source progress events); consumers
    * filter `user_id = -1` back out after the stateful operator — on the
    * SINK side of the stream boundary: a pre-sink stream filter is
    * pushed below the withWatermark operators (join equality constraints
    * infer it onto both inputs), which un-counts the heartbeat from
    * watermark accounting and re-strands the tail it exists to flush. */
  def readEventsStreamWithHeartbeat(spark: SparkSession, dir: String): DataFrame = {
    val schema = eventsRawSchema(spark, dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new org.apache.hadoop.fs.Path(s"$dir/events.parquet")
    val stage = new org.apache.hadoop.fs.Path(
      s"/tmp/graft-stream/${dir.replaceAll("[^A-Za-z0-9]", "_")}/events_hb_${tsTag(schema)}")
    val fs = stage.getFileSystem(conf)
    val dst = new org.apache.hadoop.fs.Path(stage, "events.parquet")
    if (!fs.exists(dst)) {
      fs.mkdirs(stage)
      // heartbeat ts = max event time + 2h, expressed in the RAW layout's
      // type so the synthetic part-file schema matches the staged copy
      val hbTs: Any = spark.read.parquet(s"$dir/events.parquet")
        .agg(max(col("ts"))).head.get(0) match {
          case ns: java.lang.Long => ns + 2L * 3600 * 1000000000L
          case t: java.sql.Timestamp =>
            java.sql.Timestamp.from(t.toInstant.plusSeconds(2L * 3600))
          case t: java.time.Instant => t.plusSeconds(2L * 3600)
          case t: java.time.LocalDateTime => t.plusHours(2)
          case other => sys.error(s"unexpected ts value class: $other")
        }
      val rows = java.util.Arrays.asList(
        org.apache.spark.sql.Row(-1L, hbTs, -1L, "click", 0.0, "{}"),
        org.apache.spark.sql.Row(-2L, hbTs, -1L, "error", 0.0, "{}"))
      spark.createDataFrame(rows, schema)
        .repartition(1).write.mode("append").parquet(stage.toString)
      org.apache.hadoop.fs.FileUtil.copy(src.getFileSystem(conf), src, fs, dst, false, conf)
    }
    normalizeTs(spark.readStream.schema(schema).parquet(stage.toString))
  }

  /** The events stream staged as `shards` time-ordered files with
    * `maxFilesPerTrigger=1` — a bounded REPLAY of the incremental
    * arrival a production stream actually sees: each micro-batch
    * carries one time-slice, the watermark advances BETWEEN batches,
    * and stateful operators must hand their state across batch
    * boundaries (open sessions, pending join rows, dedup sets) instead
    * of seeing the whole fixture in one batch. Shard mtimes are pinned
    * (base + i seconds) so the file source's modification-time ordering
    * replays the slices in event-time order deterministically. */
  def readEventsStreamSharded(spark: SparkSession, dir: String,
                              shards: Int = 4): DataFrame = {
    val schema = eventsRawSchema(spark, dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val stage = new org.apache.hadoop.fs.Path(
      s"/tmp/graft-stream/${dir.replaceAll("[^A-Za-z0-9]", "_")}/events_sh${shards}_${tsTag(schema)}")
    val fs = stage.getFileSystem(conf)
    val done = new org.apache.hadoop.fs.Path(stage, s"shard_$shards.parquet")
    if (!fs.exists(done)) {
      fs.mkdirs(stage)
      val ev = spark.read.parquet(s"$dir/events.parquet")
      val marked = ev.withColumn("__shard",
        org.apache.spark.sql.functions.ntile(shards).over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("ts"), col("event_id"))))
      val base = System.currentTimeMillis() - 3600000L
      (1 to shards).foreach { i =>
        val tmp = new org.apache.hadoop.fs.Path(stage, s"_tmp_$i")
        marked.filter(col("__shard") === i).drop("__shard")
          .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = fs.listStatus(tmp)
          .map(_.getPath).find(_.getName.endsWith(".parquet")).get
        val dst = new org.apache.hadoop.fs.Path(stage, s"shard_$i.parquet")
        fs.rename(part, dst)
        fs.delete(tmp, true)
        fs.setTimes(dst, base + i * 1000L, -1)
      }
    }
    normalizeTs(spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(stage.toString))
  }

  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Stream the documents fixture (file-source staging as
    * [[readEventsStream]]) — the input for running the curation
    * operators over a stream: the text-analysis tier is pure narrow
    * projections, so it applies to a streaming frame UNCHANGED. */
  def readDocumentsStream(spark: SparkSession, dir: String): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new org.apache.hadoop.fs.Path(s"$dir/documents.parquet")
    val stage = new org.apache.hadoop.fs.Path(
      s"/tmp/graft-stream/${dir.replaceAll("[^A-Za-z0-9]", "_")}/documents")
    val fs = stage.getFileSystem(conf)
    val dst = new org.apache.hadoop.fs.Path(stage, "documents.parquet")
    if (!fs.exists(dst)) {
      fs.mkdirs(stage)
      org.apache.hadoop.fs.FileUtil.copy(src.getFileSystem(conf), src, fs, dst, false, conf)
    }
    spark.readStream.schema(documentsSchema).parquet(stage.toString)
  }

  /** Stream the embeddings fixture (file-source staging as
    * [[readEventsStream]]) — the input for similarity/enrichment
    * operators at ingest (st42). The schema is PROBED from the batch
    * footer (never hardcoded) and the stage dir is tagged with the
    * embedding element type — the [[readEventsStream]] tsTag discipline:
    * a fixture-layout swap between rounds can never silently reuse a
    * stale staged copy whose schema no longer matches the declared one. */
  def readEmbeddingsStream(spark: SparkSession, dir: String): DataFrame = {
    val schema = spark.read.parquet(s"$dir/embeddings.parquet").schema
    val tag = schema("embedding").dataType.simpleString.replaceAll("[^a-z0-9]", "_")
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new org.apache.hadoop.fs.Path(s"$dir/embeddings.parquet")
    val stage = new org.apache.hadoop.fs.Path(
      s"/tmp/graft-stream/${dir.replaceAll("[^A-Za-z0-9]", "_")}/embeddings_$tag")
    val fs = stage.getFileSystem(conf)
    val dst = new org.apache.hadoop.fs.Path(stage, "embeddings.parquet")
    if (!fs.exists(dst)) {
      fs.mkdirs(stage)
      org.apache.hadoop.fs.FileUtil.copy(src.getFileSystem(conf), src, fs, dst, false, conf)
    }
    spark.readStream.schema(schema).parquet(stage.toString)
  }

  /** Exact cosine top-k retrieval AT INGEST — each arriving embedding is
    * scored against a STATIC reference index baked into the plan as a
    * literal (the st14/st25 "model rides the plan" discipline: the
    * reference is a broadcast-sized artifact — document the bound, shard
    * the reference if it outgrows a broadcast). Entirely STATELESS: the
    * per-row top-k is computed inside array expressions (filter self out,
    * score every reference with the codegen'd `cosine_sim`, sort by the
    * (−cosine, nid) struct order, slice k) — no watermark, no state
    * store, no shuffle, no stream-static join fan-out to re-aggregate
    * (the join form would need a per-query stateful top-k whose keys
    * never close; the in-row form needs nothing). Ties break exactly as
    * [[graft.operators.Similarity.cosineTopK]] (cosine desc, nid asc) at
    * the same 6-dp rounding, so streamed == batch row for row.
    *
    * The reference is BOUNDED BY CONSTRUCTION (`vec_id < refBound`, not
    * a corpus fraction): a reference that grows with the corpus makes
    * per-row cost × row count quadratic — ScaleCheck measured exactly
    * that (41× at 10×) on the corpus-fraction form before this bound
    * landed. A fixed curated index is also the production semantics
    * (you probe arrivals against a REFERENCE, not against everything
    * ever ingested); larger references shard across parallel probes. */
  def annProbeStream(spark: SparkSession, dir: String, k: Int,
                     refBound: Long = 500): DataFrame = {
    graft.sql.GraftExtensions.ensureRegistered(spark)
    import org.apache.spark.sql.functions._
    val ref = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") % 7 === 0 && col("vec_id") < refBound &&
        col("embedding").isNotNull && size(col("embedding")) > 0)
      .select(col("vec_id").cast("long").as("nid"),
        col("embedding").cast("array<double>").as("cv"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1)
    val refLit = typedlit(ref.toSeq)
    readEmbeddingsStream(spark, dir)
      .filter(col("vec_id").isNotNull && col("embedding").isNotNull &&
        size(col("embedding")) > 0)
      .select(col("vec_id").as("qid"),
        col("embedding").cast("array<double>").as("qv"))
      .withColumn("__ref", refLit)
      .select(col("qid"), posexplode(expr(
        s"""slice(array_sort(transform(
           |  filter(__ref, r -> r._1 != qid),
           |  r -> struct(-round(cosine_sim(qv, r._2), 6) AS negc, r._1 AS nid))), 1, $k)"""
          .stripMargin)))
      .select(col("qid"), (col("pos") + 1).cast("long").as("rnk"),
        col("col.nid").as("nid"), (-col("col.negc")).as("cosine"))
  }

  /** Mixture sampling at ingest — the streaming twin of
    * [[graft.operators.Sampling.mixtureSample]]: per-source keep rates
    * are a BATCH artifact computed once from the static reference
    * corpus (production computes them from the previous snapshot), and
    * each arriving document's verdict is the pure md5-bucket function
    * of its id — a stateless stream-static broadcast join plus a
    * filter. No watermark, no state store: the sampled mixture
    * materializes continuously at ingest instead of in a batch pass. */
  def mixtureSampleStream(spark: SparkSession, dir: String,
                          budgetDocs: Long, salt: String): DataFrame = {
    import graft.operators.Sampling
    val rates = Sampling.mixtureRates(
      spark.read.parquet(s"$dir/documents.parquet"), "source", budgetDocs)
    Sampling.applyMixtureRates(
      readDocumentsStream(spark, dir), rates, "doc_id", "source", salt)
  }

  /** Importance scoring at ingest — the streaming twin of
    * [[graft.operators.TextAnalysis.importanceWeight]]: the dims-row
    * DSIR bucket-weight model is a BATCH artifact (computed once from
    * the static reference corpus, collected — it is bytes, the
    * PQ-codebook discipline) baked into the plan as a literal map, and
    * each arriving document scores itself with a per-row integer fold
    * over its own tokens. STATELESS: no watermark, no state store, no
    * shuffle, not even a stream-static join — the model rides the plan,
    * so the scored stream runs at ingest speed and the verdict
    * (sample / route / drop by score) is a downstream filter. */
  def importanceStream(spark: SparkSession, dir: String,
                       targetSource: String, dims: Int = 64): DataFrame = {
    import graft.operators.TextAnalysis
    val static = spark.read.parquet(s"$dir/documents.parquet")
    val model = TextAnalysis.importanceWeights(static, "text",
        col("source") === targetSource, dims)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val wMap = map(model.flatMap { case (b, w) => Seq(lit(b), lit(w)) }.toIndexedSeq: _*)
    val toks = filter(split(trim(col("text")), "\\s+"), t => t =!= "")
    readDocumentsStream(spark, dir)
      .filter(col("source") =!= targetSource)
      .select(col("doc_id"), size(toks).cast("long").as("n_tokens"),
        aggregate(toks, lit(0L),
          (acc, t) => acc + element_at(wMap, TextAnalysis.bucketOf(t, dims)))
          .as("imp_e6"))
      .filter(col("n_tokens") > 0)
      .withColumn("imp_mean_e6",
        floor(col("imp_e6").cast("double") / col("n_tokens") + 0.5).cast("long"))
  }

  /** Quality-classifier scoring at ingest — the streaming twin of
    * [[graft.operators.TextAnalysis.classifierScore]]: the hashed linear
    * model needs no side artifact at all (each token's weight is
    * md5-derived from its bucket id — [[TextAnalysis.tokenWeight]] — and
    * rides the plan as an expression), so each arriving document scores
    * itself with one per-row integer fold over its own tokens. STATELESS:
    * no watermark, no state store, no shuffle — the keep/drop verdict
    * materializes at ingest speed, the fastText-filter deployment shape
    * (score at crawl ingest, never re-scan). */
  def classifierStream(spark: SparkSession, dir: String,
                       dims: Int = 64, biasE6: Long = 0L): DataFrame = {
    import graft.operators.TextAnalysis
    val toks = filter(split(trim(coalesce(col("text"), lit(""))), "\\s+"),
      t => t =!= "")
    readDocumentsStream(spark, dir)
      .select(col("doc_id"), size(toks).cast("long").as("n_tokens"),
        (aggregate(toks, lit(0L),
          (acc, t) => acc + TextAnalysis.tokenWeight(t, dims)) + lit(biasE6))
          .as("logit_e6"))
      .withColumn("keep", col("logit_e6") >= 0L)
  }

  /** Ingestion DRIFT monitor: per arriving source, the L1 distance
    * between its md5-bucket token histogram and a reference corpus'
    * histogram — the data-quality alarm that catches a upstream format
    * change or topic shift at ingest, before it poisons a training mix.
    *
    * Exactness discipline: both histograms are integer counts and the
    * L1 is CROSS-MULTIPLIED (|obs_b·refN − ref_b·obsN|, exact bigint)
    * so the only float op is the final micro-scaling division —
    * replayable in any engine (the st14 model-as-plan-literal shape).
    *
    * Scale shape: the reference histogram is `dims` longs baked into
    * the plan; each doc folds its own 64-bucket histogram map-side
    * (O(dims·tokens) per doc, no explode); ONE bounded aggregation
    * (sources × 1 rows) with map-side elementwise combine. Complete
    * mode over a |sources|-row result. */
  /** The streaming half: maintain the per-(source, bucket) token
    * histogram — each token hashes ONCE (explode of the pre-bucketed
    * array), one bounded aggregation (|sources|·dims rows of state).
    * This is the production monitor shape: the histogram table is what
    * a dashboard or alert job reads continuously. */
  def driftHistogramStream(spark: SparkSession, dir: String,
                           refSource: String = "src0", dims: Int = 64): DataFrame = {
    import graft.operators.TextAnalysis
    val toks = filter(split(trim(col("text")), "\\s+"), t => t =!= "")
    readDocumentsStream(spark, dir)
      .filter(col("source") =!= refSource)
      .select(col("source"),
        explode(transform(toks, t => TextAnalysis.bucketOf(t, dims))).as("b"))
      .groupBy(col("source"), col("b"))
      .agg(count(lit(1)).as("c"))
  }

  /** The batch half: score a drained histogram against the reference
    * corpus' histogram — cross-multiplied integer L1 (|obs_b·refN −
    * ref_b·obsN|, exact bigint; zero-filled on BOTH sides via a dense
    * sources×dims grid), one float op at the end. The reference model
    * is dims longs, a plan literal. */
  def driftReport(hist: DataFrame, spark: SparkSession, dir: String,
                  refSource: String = "src0", dims: Int = 64): DataFrame = {
    import graft.operators.TextAnalysis
    val toks = filter(split(trim(col("text")), "\\s+"), t => t =!= "")
    val static = spark.read.parquet(s"$dir/documents.parquet")
    val ref: Array[Long] = {
      val counts = static.filter(col("source") === refSource)
        .select(explode(toks).as("t"))
        .groupBy(TextAnalysis.bucketOf(col("t"), dims).as("b"))
        .agg(count(lit(1)).as("c"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      Array.tabulate(dims)(i => counts.getOrElse(i, 0L))
    }
    val refN = ref.sum
    val refLit = array(ref.map(lit(_)).toIndexedSeq: _*)
    val nDocs = static.filter(col("source") =!= refSource)
      .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    // the source list is |sources| strings — collect it rather than
    // self-joining the sink-backed frame (conflicting-reference trap)
    val sources = hist.select(col("source")).distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    val grid = spark.createDataset(sources)(Encoders.STRING).toDF("source")
      .crossJoin(spark.range(dims).select(col("id").cast("int").as("b")))
      .join(hist, Seq("source", "b"), "left")
      .select(col("source"), col("b"), coalesce(col("c"), lit(0L)).as("oc"),
        element_at(refLit, col("b") + 1).as("rc"))
    val obsN = grid.groupBy(col("source")).agg(sum(col("oc")).as("obs_n"))
    grid.join(broadcast(obsN), "source")
      .groupBy(col("source"))
      .agg(first(col("obs_n")).as("n_tokens"),
        sum(abs(col("oc") * lit(refN) - col("rc") * col("obs_n"))).as("dist"))
      .join(broadcast(nDocs), "source")
      .select(col("source"), col("n_docs"), col("n_tokens"),
        floor(col("dist") * lit(1000000.0) / (col("n_tokens") * lit(refN)) + 0.5)
          .cast("long").as("drift_e6"))
  }

  /** Streaming benchmark decontamination: documents arriving on a stream
    * are LSH-probed against a STATIC benchmark index and flagged when
    * their exact 3-gram Jaccard against any benchmark doc reaches the
    * threshold — the ingest-time guard that keeps eval data out of a
    * training corpus without re-running batch decontamination.
    *
    * Scale shape: the static side (shingle sets → MinHash signature →
    * band hashes) is built ONCE per query from the benchmark corpus —
    * orders of magnitude smaller than the stream — and in production
    * would be persisted or pre-bucketed; the stream side is a pure
    * narrow projection per document (native shingle/signature
    * expressions, no shuffle), and the stream-static equi-join on
    * (band_idx, band_hash) is stateless — each micro-batch probes only
    * its own band buckets, never all pairs. The only streaming state is
    * the final dropDuplicates, keyed on FLAGGED pairs (post-verify), so
    * state grows with contamination incidents, not with the corpus. */
  /** The banded static BENCHMARK INDEX shared by [[contaminationStream]]
    * and [[contaminationStreamCapped]] — one definition so the banding
    * scheme cannot diverge between the capped and uncapped probes.
    * `bench` overrides the whole benchmark frame (st35 plants its viral
    * family this way); default = doc_id % 10 = 0 of the fixture. */
  private def benchIndex(spark: SparkSession, dir: String, n: Int, k: Int,
                         bands: Int, bench: Option[DataFrame]): DataFrame = {
    import graft.operators.Dedup
    val b = bench.getOrElse(
      spark.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("text")))
    Dedup.banded(
        Dedup.shingleSets(b, "doc_id", "text", n)
          .withColumn("sig", call_function("minhash_sig", col("hs"), lit(k))), bands)
      .select(col("doc_id").as("bench_id"), col("hs").as("bhs"),
        col("band_idx"), col("band_hash"))
  }

  /** The banded ARRIVING-DOC probe stream (same one-definition rule).
    * `stream` overrides the whole input stream (st35 rewrites arrival
    * text this way); default = doc_id % 10 <> 0 of the document stream. */
  private def probeBanded(spark: SparkSession, dir: String, n: Int, k: Int,
                          bands: Int, stream: Option[DataFrame]): DataFrame = {
    import graft.operators.Dedup
    val s0 = stream.getOrElse(
      readDocumentsStream(spark, dir).filter(col("doc_id") % 10 =!= 0))
    Dedup.banded(
        Dedup.shingleSets(s0, "doc_id", "text", n)
          .withColumn("sig", call_function("minhash_sig", col("hs"), lit(k))), bands)
      .select(col("doc_id"), col("hs"), col("band_idx"), col("band_hash"))
  }

  /** The exact-Jaccard verify leg: probe ⋈ index on the band key, exact
    * filter, one row per (doc, bench) match. */
  private def verifiedLeg(sbanded: DataFrame, idx: DataFrame,
                          threshold: Double): DataFrame = {
    val inter = size(array_intersect(col("hs"), col("bhs")))
    val jac = inter.cast("double") /
      (size(col("hs")) + size(col("bhs")) - inter)
    sbanded.join(idx, Seq("band_idx", "band_hash"))
      .filter(jac >= threshold)
      .select(col("doc_id"), col("bench_id").as("matched_bench_id"),
        round(jac, 6).as("jaccard"))
      .dropDuplicates("doc_id", "matched_bench_id")
  }

  def contaminationStream(spark: SparkSession, dir: String,
                          n: Int = 3, k: Int = 128, bands: Int = 32,
                          threshold: Double = 0.8): DataFrame =
    verifiedLeg(probeBanded(spark, dir, n, k, bands, None),
      benchIndex(spark, dir, n, k, bands, None), threshold)

  /** [[graft.operators.Dedup.probeMinHashIndex]]'s STREAMING face:
    * arriving documents near-dup-probe the PERSISTED
    * [[graft.operators.Dedup.writeMinHashIndex]] index — candidates
    * from a stream-static equi-join with the SIGNATURE-sized bands
    * table, exact Jaccard against the sets table, parameters read
    * from the index's own stats row (an index and its probes cannot
    * disagree). Stateless except the per-pair dropDuplicates (the
    * [[contaminationStream]] shape). Unlike contaminationStream —
    * which re-derives its in-memory bench index from the corpus at
    * every stream definition — the static sides here are the
    * ETL-built parquet index: the corpus is never re-shingled, and at
    * 100 TB the stream joins a bands table of ~bands × 16 B per doc.
    * A long-lived production stream persists the two static frames
    * (the [[contaminationStreamCapped]] release-handle discipline);
    * this definition stays pure so bounded drains compose. */
  def minhashIndexProbeStream(spark: SparkSession, indexDir: String,
                              stream: DataFrame, idCol: String, textCol: String,
                              threshold: Double = 0.8): DataFrame = {
    import graft.operators.Dedup
    val st = spark.read.parquet(s"$indexDir/stats").collect() match {
      case Array(one) => one
      case other => sys.error(
        s"minhash index at $indexDir: stats must hold exactly one row, found ${other.length}")
    }
    val sBanded = Dedup.banded(
        Dedup.shingleSets(
            stream.select(col(idCol).as("doc_id"), col(textCol).as("text")),
            "doc_id", "text", st.getAs[Int]("n"))
          .withColumn("sig",
            call_function("minhash_sig", col("hs"), lit(st.getAs[Int]("k")))),
        st.getAs[Int]("bands"))
      .select(col("doc_id"), col("hs"), col("band_idx"), col("band_hash"))
    val idxBands = spark.read.parquet(s"$indexDir/bands")
      .select(col("doc_id").as("bench_id"), col("band_idx"), col("band_hash"))
    val idxSets = spark.read.parquet(s"$indexDir/sets")
      .select(col("doc_id").as("bench_id"), col("hs").as("bhs"))
    val inter = size(array_intersect(col("hs"), col("bhs")))
    val jac = inter.cast("double") /
      (size(col("hs")) + size(col("bhs")) - inter)
    sBanded.join(idxBands, Seq("band_idx", "band_hash"))
      .join(idxSets, "bench_id")
      .filter(jac >= threshold)
      .select(col("doc_id"), col("bench_id").as("matched_bench_id"),
        round(jac, 6).as("jaccard"))
      .dropDuplicates("doc_id", "matched_bench_id")
  }

  /** [[contaminationStream]] with the index-side family guard — the
    * streaming face of [[graft.operators.Dedup.contaminatedNearCapped]]:
    * a viral near-identical family INSIDE the benchmark index (many
    * paraphrases of one question is the common real case) makes every
    * matching arrival verify against |family| index rows in every band.
    * The static index is bucket-sized and PERSISTED at build time (two
    * batch actions force the build; the stream-static join would
    * otherwise re-derive the whole shingle/minhash/window pipeline
    * every micro-batch — the index lives as long as the stream, the
    * caller may unpersist after stopping). Arrivals probing a bucket
    * larger than `maxBucket` are FLAGGED row-locally with the bucket's
    * smallest bench id and NULL jaccard; capped buckets collapse to ONE
    * row per bucket before the join, so a flagged arrival's fan-out is
    * bands × 1, never bands × |family|. Sub-cap buckets verify exactly
    * as [[contaminationStream]] (same helpers). Both legs are stateless
    * appends; the `kind` column ('verified' | 'family_flag') keeps the
    * two claims distinct — the streaming face of the batch operator's
    * TWO frames: a doc may legitimately carry BOTH a verified row for
    * bench doc X and a family_flag naming X as rep, when X heads an
    * over-cap family while also appearing in sub-cap buckets of its
    * own.
    *
    * `bench` / `stream` replace the WHOLE benchmark frame / input
    * stream (the caller composes, as with the batch capped operators);
    * defaults read the fixture split.
    *
    * Returns (stream, releaseIndex): the second element unpersists the
    * two index frames — call it AFTER stopping/draining the streaming
    * query. The lease machinery cannot do this automatically here
    * (micro-batches do not fire QueryExecutionListener), and a persist
    * with no release accumulates block-manager storage across a long
    * session per invocation — the leak class Caching exists to
    * prevent. */
  def contaminationStreamCapped(spark: SparkSession, dir: String,
                                n: Int = 3, k: Int = 128, bands: Int = 32,
                                threshold: Double = 0.8, maxBucket: Int = 64,
                                bench: Option[DataFrame] = None,
                                stream: Option[DataFrame] = None): (DataFrame, () => Unit) = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.storage.StorageLevel
    // bstatic is persisted only for the BUILD (both legs derive from
    // it — without this the two forcing counts below would each re-run
    // the whole shingle/minhash/window index pipeline), then dropped;
    // the legs themselves stay cached for the stream's lifetime.
    val bstatic = benchIndex(spark, dir, n, k, bands, bench)
      .withColumn("bucket_size",
        count(lit(1)).over(Window.partitionBy(col("band_idx"), col("band_hash"))))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val smallIdx = bstatic.filter(col("bucket_size") <= maxBucket)
      .select(col("bench_id"), col("bhs"), col("band_idx"), col("band_hash"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val cappedIdx = bstatic.filter(col("bucket_size") > maxBucket)
      .groupBy(col("band_idx"), col("band_hash"))
      .agg(min(col("bench_id")).as("bench_hit_id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    smallIdx.count(): Unit
    cappedIdx.count(): Unit
    bstatic.unpersist(blocking = false)
    val sbanded = probeBanded(spark, dir, n, k, bands, stream)
    val verified = verifiedLeg(sbanded, smallIdx, threshold)
      .withColumn("kind", lit("verified"))
    val flagged = sbanded.join(cappedIdx, Seq("band_idx", "band_hash"))
      .select(col("doc_id"), col("bench_hit_id").as("matched_bench_id"),
        lit(null).cast("double").as("jaccard"))
      .dropDuplicates("doc_id", "matched_bench_id")
      .withColumn("kind", lit("family_flag"))
    val out = verified.unionByName(flagged)
    (out, () => {
      smallIdx.unpersist(blocking = false)
      cappedIdx.unpersist(blocking = false): Unit
    })
  }

  /** As [[readEventsStream]] but the fixture is staged TWICE (two files
    * with identical rows) — the double-delivery input for proving
    * streaming dedup semantics. */
  def readEventsStreamDoubled(spark: SparkSession, dir: String): DataFrame = {
    val schema = eventsRawSchema(spark, dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new org.apache.hadoop.fs.Path(s"$dir/events.parquet")
    val stage = new org.apache.hadoop.fs.Path(
      s"/tmp/graft-stream/${dir.replaceAll("[^A-Za-z0-9]", "_")}/events2x_${tsTag(schema)}")
    val fs = stage.getFileSystem(conf)
    Seq("copy1.parquet", "copy2.parquet").foreach { name =>
      val dst = new org.apache.hadoop.fs.Path(stage, name)
      if (!fs.exists(dst)) {
        fs.mkdirs(stage)
        org.apache.hadoop.fs.FileUtil.copy(src.getFileSystem(conf), src, fs, dst, false, conf)
      }
    }
    normalizeTs(spark.readStream.schema(schema).parquet(stage.toString))
  }

  /** Exactly-once event dedup under at-least-once delivery: duplicates of
    * an event_id arriving within the watermark window are dropped with
    * bounded state (`dropDuplicatesWithinWatermark` — state for an id is
    * freed once the watermark passes it, unlike plain dropDuplicates
    * whose state grows forever). */
  def dedupEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** The ONE definition of the per-(window, type) count/cents math —
    * tumbling ([[windowedCounts]]) and sliding ([[slidingCounts]]) differ
    * only in the window column they pass here, so a cents-rounding change
    * can never fork between the shapes. */
  private def windowedAgg(events: DataFrame, windowCol: Column): DataFrame =
    events
      .groupBy(windowCol.as("window"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col("value") * 100 + 0.5)).cast("long").as("value_cents"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n_events"), col("value_cents"))

  /** Tumbling 1-hour windows per event type: count + exact value cents.
    * State is bounded: one row per (window, type). */
  def windowedCounts(events: DataFrame): DataFrame =
    windowedAgg(events, window(col("ts"), "1 hour"))

  /** Append-mode variant of [[windowedCounts]]: the watermark does double
    * duty — it bounds state AND defines emission. A window row is emitted
    * exactly once, when the watermark passes its end (then its state is
    * evicted); windows the final watermark never passes stay open and are
    * never emitted. This is the production shape for unbounded streams
    * (Complete mode re-emits the whole result every trigger — fine for a
    * bounded drain, impossible at 100 TB of windows). */
  def windowedCountsAppend(events: DataFrame, delay: String = "1 hour"): DataFrame =
    // the watermark composes BEFORE the shared aggregation — one
    // definition of the window/count/cents math for both modes
    windowedCounts(events.withWatermark("ts", delay))

  /** SLIDING 1-hour windows advancing every 15 minutes — the
    * overlapping-window twin of [[windowedCountsAppend]] (tumbling) and
    * the dashboard "trailing hour, refreshed every 15 min" shape. Every
    * event lands in EXACTLY 4 windows (hour/quarter-hour, epoch-aligned
    * — the Spark `window(ts, 1h, 15m)` contract), so state is 4× the
    * tumbling row count, still strictly (windows × types)-bounded and
    * watermark-evicted. Append mode: each window row emits once when the
    * watermark passes its end — the only mode that scales to unbounded
    * window histories. */
  def slidingCounts(events: DataFrame, delay: String = "1 hour"): DataFrame =
    windowedAgg(events.withWatermark("ts", delay),
      window(col("ts"), "1 hour", "15 minutes"))

  /** Streaming leaderboard: top-k events by value per (hour window,
    * type), computed with graft's bounded-heap `top_k_by` aggregate
    * ([[graft.functions.TopKBy]]) INSIDE the streaming aggregation.
    * The state row per (window, type) is one k-entry heap — constant
    * size — where the window-row_number formulation isn't even
    * expressible in a streaming query (non-time-window window functions
    * are unsupported on streams). Append mode + watermark: a window's
    * top-k emits exactly once when the watermark passes its end; the
    * heap merges across micro-batches through the aggregate's
    * serialize/merge path, so arrival order cannot change the result
    * (ord is the total (cents, event_id)). */
  def windowedTopK(events: DataFrame, k: Int = 3,
                   delay: String = "1 hour"): DataFrame = {
    graft.sql.GraftExtensions.ensureRegistered(events.sparkSession)
    def cents = floor(col("value") * 100 + 0.5).cast("long")
    events.withWatermark("ts", delay)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(call_function("top_k_by",
        struct(cents.as("cents"), col("event_id")),
        struct(col("event_id"), cents.as("cents")), lit(k)).as("__t"))
      .select(col("window.start").as("window_start"), col("event_type"),
        explode(col("__t.item")).as("__e"))
      .select(col("window_start"), col("event_type"),
        col("__e.event_id").as("event_id"), col("__e.cents").as("cents"))
  }

  /** CHAINED stateful operators in one streaming query: exactly-once
    * dedup ([[dedupEvents]] — dropDuplicatesWithinWatermark) feeding the
    * event-time windowed aggregation, both in append mode under ONE
    * upstream watermark. The at-least-once-delivery production pipeline
    * in a single query: re-delivered events are dropped by bounded
    * dedup state, and each unique event counts exactly once in its
    * closed window. Late re-deliveries past the watermark are dropped
    * as late data — which is also exactly-once, since a duplicate is by
    * definition already counted. State: one row per in-horizon event_id
    * plus one row per open (window, type). */
  def dedupedWindowedCounts(events: DataFrame): DataFrame =
    windowedCounts(dedupEvents(events))

  /** Gap-sessionization via the BUILT-IN `session_window` aggregation —
    * the declarative twin of [[sessionize]]'s flatMapGroupsWithState:
    * when the per-session output is an aggregate (count/sum/min/max),
    * the built-in operator is strictly better — no user state model,
    * no timeout bookkeeping, sessions merge inside the state store and
    * codegen'd aggregation does the math. Reach for
    * flatMapGroupsWithState only when the session CONTENT matters
    * (per-event replay, custom emission) — that is exactly the split
    * [[sessionize]]'s scaladoc claims, and having both proves it.
    *
    * Append mode + watermark: a session emits exactly once, when the
    * watermark passes its end (last event + gap); sessions the final
    * watermark never passes stay open and unemitted — the production
    * contract for unbounded session streams. State per open session is
    * one aggregate row bounded by the watermark horizon.
    *
    * Money sums in exact cents (floor(v·100 + 0.5)) so the oracle
    * replays them; session bounds emit as epoch micros. */
  def sessionWindows(events: DataFrame, gapMinutes: Int = 30,
                     delay: String = "1 hour"): DataFrame =
    events.withWatermark("ts", delay)
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$gapMinutes minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col("value") * 100 + 0.5)).cast("long").as("value_cents"))
      .select(col("user_id"),
        unix_micros(col("sw.start")).as("session_start_us"),
        unix_micros(col("sw.end")).as("session_end_us"),
        col("n_events"), col("value_cents"))

  /** Drain a (bounded) streaming frame through a memory sink with
    * Trigger.AvailableNow and return the result table.
    *
    * Stateful-operator state stores are created per shuffle partition per
    * operator per micro-batch; at 32 partitions the store bookkeeping
    * dominates small drains (measured: the stream-stream join halves,
    * 7.5s → 3.5s warm, at 8 partitions). Since the query starts from a
    * fresh checkpoint, the partition count is free to choose here — 8
    * keeps ample parallelism for the state sizes these bounded drains
    * see. Restored after the run. */
  /** VERSIONED TABLE AS A STREAM — the CDC source (r11 verdict #4):
    * each availableNow-style DRAIN delivers exactly the rows appended
    * since the checkpoint's last-seen version, as
    * [[graft.sinks.VersionedTable.changesBetween]] computes them
    * (per-row `_commit_version` included), and advances the checkpoint
    * only AFTER `process` returns — a crash mid-batch replays the same
    * delta next drain, and EXACTLY-ONCE falls out when the downstream
    * is the versioned txn sink keyed (checkpoint id, toVersion): the
    * replay's commit is a no-op (pinned in VersionedTableSpec).
    *
    * The FIRST drain (no offset yet) is the INITIAL SNAPSHOT — the
    * standard CDC bootstrap (the Delta readStream shape): the latest
    * snapshot tagged with its version, offset = that version. Later
    * drains inherit changesBetween's contract verbatim: an overwrite /
    * delete / restore commit inside the drained range REFUSES by name
    * (its row-level delta is a two-snapshot diff, not an append scan) —
    * the stream never silently misreads a non-append history.
    *
    * Scale shape: after bootstrap a drain reads ONLY the files the
    * drained commits added (manifest set difference — never a table
    * scan); offset state is one tiny JSON per checkpoint, single-writer
    * (the Spark checkpoint-dir contract). Returns the drained
    * (fromVersion, toVersion], or None when nothing is new.
    *
    * BACKPRESSURE (r12 verdict #4): `maxVersionsPerDrain` bounds how
    * many commits one drain delivers — the Delta
    * `maxFilesPerTrigger`-class rate limit. A checkpoint that fell far
    * behind (or a fresh one bootstrapping against a long history)
    * catches up in bounded batches instead of one giant delta read:
    * the drain stops at the `maxVersionsPerDrain`-th committed version
    * past the offset (the bootstrap snapshot is taken AT that version,
    * so even the first batch is bounded), and repeated drains fold to
    * exactly the same snapshot+changes truth as one unbounded drain —
    * asserted by st55's oracle, not argued. Use
    * [[drainVersionedToQuiescence]] for the catch-up loop.
    *
    * `maxBytesPerDrain` (r13 verdict #6) bounds the DATA VOLUME a
    * drain delivers — the complement for uneven commit sizes, where a
    * version count says nothing about bytes: the drain head is the
    * longest committed prefix past the offset whose cumulative
    * APPENDED bytes (manifest total deltas — appends never rewrite, so
    * the delta IS the new files' bytes; one metadata fetch per
    * version, never a data read) stays within the bound, floored at
    * one version so progress is guaranteed (a single commit larger
    * than the bound drains alone, exactly Delta's maxBytesPerTrigger
    * soft-max). Appended-bytes deltas telescope, so a BOOTSTRAP's
    * cumulative bound is the snapshot size at the candidate head —
    * the first batch obeys the same budget. Both bounds compose: the
    * tighter head wins. */
  def drainVersionedChanges(spark: SparkSession, location: String,
      checkpointDir: String, format: String = "parquet",
      options: Map[String, String] = Map.empty,
      maxVersionsPerDrain: Option[Int] = None,
      maxBytesPerDrain: Option[Long] = None)
      (process: (DataFrame, Long, Long) => Unit): Option[(Long, Long)] = {
    maxVersionsPerDrain.foreach(m => require(m >= 1,
      s"cdc drain: maxVersionsPerDrain must be >= 1, got $m"))
    maxBytesPerDrain.foreach(b => require(b >= 1L,
      s"cdc drain: maxBytesPerDrain must be >= 1, got $b"))
    import org.apache.hadoop.fs.Path
    val ckpt = new Path(checkpointDir)
    val fs = ckpt.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val offsetPath = new Path(ckpt, "_graft_cdc_offset.json")
    val lastSeen: Option[Long] =
      if (!fs.exists(offsetPath)) None
      else Some(Json.load[Json.CdcOffset](fs, offsetPath).version)
    val vs = graft.sinks.VersionedTable.versions(spark, location)
    require(vs.nonEmpty, s"cdc drain: '$location' is not a versioned table")
    val latest = vs.last
    // the drain head: the whole history, or the rate-limited prefix —
    // the maxVersionsPerDrain-th COMMITTED version past the offset
    // (committed set, not offset+m arithmetic, so a gapped history
    // can never target an uncommitted version), further tightened by
    // the bytes budget when one is set
    def headFor(from: Long): Long = {
      val candidates = vs.filter(_ > from)
      val byCount = maxVersionsPerDrain
        .flatMap(m => candidates.take(m).lastOption)
      val byBytes = maxBytesPerDrain.flatMap { budget =>
        // the count bound (when set) already truncates what the bytes
        // scan can choose — never fetch past it
        val scan = maxVersionsPerDrain.fold(candidates)(candidates.take)
        scan.headOption.map { first =>
          // ONE manifest fetch per scanned candidate (+ the offset
          // version), fetched IN ORDER and stopped one past the chosen
          // head — a long catch-up loop totals O(versions) manifest
          // reads across its batches, never O(batches × versions), and
          // no stats sidecar is ever opened
          def bytesOf(v: Long): Long =
            if (v == 0L) 0L
            else graft.sinks.VersionedTable.manifestTotalBytes(spark, location, v)
          var head = first // >= 1 version floor: progress is guaranteed
          var prevBytes = bytesOf(from)
          var acc = 0L
          var stop = false
          for (v <- scan if !stop) {
            val vb = bytesOf(v)
            acc += math.max(0L, vb - prevBytes)
            if (acc <= budget || v == first) head = v else stop = true
            prevBytes = vb
          }
          head
        }
      }
      (byCount.toSeq ++ byBytes.toSeq).reduceOption(_ min _).getOrElse(latest)
    }
    val drained = lastSeen match {
      case Some(from) if from >= latest => None
      case Some(from) =>
        val to = headFor(from)
        process(graft.sinks.VersionedTable.changesBetween(
          spark, location, from, to, format, options), from, to)
        Some((from, to))
      case None =>
        // bounded bootstrap: the snapshot is taken AT the rate-limited
        // head, so the first batch is as bounded as every later one
        val to = headFor(0L)
        process(graft.sinks.VersionedTable
          .read(spark, location, Some(to), format, options)
          .withColumn("_commit_version",
            org.apache.spark.sql.functions.lit(to)), 0L, to)
        Some((0L, to))
    }
    drained.foreach { case (_, to) =>
      // advance only after the batch completed; temp write + ATOMIC
      // OVERWRITE rename (FileContext + Rename.OVERWRITE — checkpoint
      // dirs live on real file systems, the Spark checkpoint contract),
      // so a crash can neither leave a torn offset nor a deleted one (a
      // delete-then-rename window would lose the checkpoint and make
      // the next drain re-bootstrap the full snapshot as duplicates)
      fs.mkdirs(ckpt)
      val tmp = new Path(ckpt,
        s".offset-${java.util.UUID.randomUUID().toString.take(8)}")
      Json.writeFile(fs, tmp,
        Json.write(Json.CdcOffset(to)))
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        ckpt.toUri, spark.sparkContext.hadoopConfiguration)
      fc.rename(tmp, offsetPath, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }
    drained
  }

  /** `Trigger.AvailableNow` for the CDC source: repeat (rate-limited)
    * drains until the checkpoint reaches the table head AS OF ENTRY —
    * the availableNow contract, so a writer committing concurrently
    * extends the NEXT catch-up, never this loop (bounded termination:
    * every drain advances the offset by >= 1 committed version).
    * Each batch runs `process` and advances the offset exactly like
    * [[drainVersionedChanges]] — a crash mid-loop resumes where the
    * last completed batch left the checkpoint. Returns the drained
    * (from, to] ranges in order (empty when already caught up). */
  def drainVersionedToQuiescence(spark: SparkSession, location: String,
      checkpointDir: String, format: String = "parquet",
      options: Map[String, String] = Map.empty,
      maxVersionsPerDrain: Option[Int] = None,
      maxBytesPerDrain: Option[Long] = None)
      (process: (DataFrame, Long, Long) => Unit): Seq[(Long, Long)] = {
    val entryHead = graft.sinks.VersionedTable.versions(spark, location)
      .lastOption.getOrElse(0L)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var done = false
    while (!done) {
      drainVersionedChanges(spark, location, checkpointDir, format,
        options, maxVersionsPerDrain, maxBytesPerDrain)(process) match {
        case Some(r) => out += r; done = r._2 >= entryHead
        case None => done = true
      }
    }
    out.toSeq
  }

  def runToMemory(spark: SparkSession, df: DataFrame, name: String,
                  mode: OutputMode): DataFrame = {
    spark.catalog.dropTempView(name)
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    spark.conf.set(key, math.min(8, saved.toInt).toString)
    try {
      val q = df.writeStream.format("memory").queryName(name)
        .outputMode(mode).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    } finally spark.conf.set(key, saved)
    spark.table(name)
  }

  /** Drain a bounded stream through the BATCH sink machinery via
    * foreachBatch — every micro-batch goes through [[graft.sinks.Sinks]]
    * with the full OutputTable semantics (partitioned writes, dynamic
    * partition overwrite, jdbc, ...). Use `refresh: incremental`
    * (append) or a partitioned full refresh (each batch replaces only
    * the partitions it touches); an unpartitioned full refresh would
    * make every batch clobber the last.
    *
    * Delivery: the checkpoint WAL gives no-batch-lost, and a PARTITIONED
    * full refresh is effectively-once (a retried batch dynamically
    * overwrites the same partitions it wrote before failing). An append
    * (`refresh: incremental`) target is AT-LEAST-ONCE: a batch that fails
    * after a partial write and replays from the WAL appends its rows
    * again — foreachBatch hands us the batchId precisely so a sink CAN be
    * made idempotent (batch-scoped subdirs, MERGE on a key), but plain
    * parquet append has no transactional primitive to dedupe with. Pair
    * append targets with a downstream exact-dedup
    * ([[graft.operators.Dedup.exact]]) or an upsert-capable sink when
    * duplicates matter. */
  def runToSink(spark: SparkSession, df: DataFrame,
                out: graft.config.OutputTable, checkpoint: String,
                mode: OutputMode = OutputMode.Append()): Map[String, Long] = {
    val q = df.writeStream
      .outputMode(mode)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // versioned sinks get (checkpoint, batchId) as the commit txn —
        // a WAL-replayed batch (crash between sink commit and checkpoint
        // advance) is skipped by the table, not appended twice
        val txn = if (out.versioned) Some((checkpoint, batchId)) else None
        graft.sinks.Sinks.write(spark, batch, out, txn): Unit
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // STATE METRICS SURFACE (r10 verdict #9): the stateful tier's bound
    // arguments ("state is (windows × types)-sized", "dropped-late is
    // the watermark working") become RUNTIME-OBSERVABLE per drain —
    // harvested from the query's own recentProgress (synchronous, no
    // listener-bus async race) and published as
    // `_graft_stream_metrics.json` beside file targets, the streaming
    // twin of the batch sink's `_graft_metrics.json`. A 100 TB operator
    // reads the file to SEE the bound holding instead of trusting the
    // scaladoc. recentProgress retains the last ≤100 batches (the
    // AvailableNow drains here are far smaller); `n_batches` records
    // what the totals cover.
    val progresses = q.recentProgress.toSeq
    val stateRows = progresses.flatMap(_.stateOperators.map(_.numRowsTotal))
    val dropped = progresses.flatMap(_.stateOperators.toSeq)
      .map(_.numRowsDroppedByWatermark).sum
    val wmMs = progresses.reverse.iterator
      .flatMap(p => Option(p.eventTime.get("watermark")))
      .map(java.time.Instant.parse(_).toEpochMilli)
      .find(_ > 0L).getOrElse(0L)
    val metrics: Seq[(String, Long)] = Seq(
      "n_batches" -> progresses.size.toLong,
      "input_rows" -> progresses.map(_.numInputRows).sum,
      "state_rows_last" -> stateRows.lastOption.getOrElse(0L),
      "state_rows_max" -> (if (stateRows.isEmpty) 0L else stateRows.max),
      "dropped_late_total" -> dropped,
      "watermark_ms" -> wmMs)
    out.target match {
      case graft.config.TargetSpec.File(location) =>
        val dir = new org.apache.hadoop.fs.Path(location)
        Json.writeFile(
          dir.getFileSystem(spark.sparkContext.hadoopConfiguration),
          new org.apache.hadoop.fs.Path(dir, "_graft_stream_metrics.json"),
          Json.fields(metrics))
      case _ => ()
    }
    graft.log.Log.info("stream drained",
      metrics.map { case (k, v) => k -> v.toString }: _*)
    metrics.toMap
  }

  /** Malformed-row quarantine AT INGEST — the streaming twin of
    * `Sources.loadWithQuarantine`: each micro-batch of raw text lines
    * splits through the SAME pruning-immune `from_csv` full-parse
    * verdict, good rows landing in the main table and rejects (raw line +
    * source file) in the quarantine table. Each batch writes BOTH sides
    * into its own `batch=<id>` subdirectory with overwrite, so a
    * WAL-replayed batch overwrites exactly what its failed attempt
    * wrote — effectively-once, no duplicate rejects (a plain append
    * would double every replayed row). Readers scan the root path; the
    * batch id surfaces as a partition column to ignore or audit by. One
    * streaming query, two sides — the ingest shape where bad rows must
    * neither kill the stream nor silently vanish. */
  def quarantineStream(spark: SparkSession, location: String, schemaDdl: String,
                       options: Map[String, String], outPath: String,
                       quarantinePath: String, checkpoint: String): Unit = {
    import org.apache.spark.sql.types.{StringType, StructType}
    val structType = StructType.fromDDL(schemaDdl)
    val parseSchema = structType.add("__corrupt", StringType)
    val parseOpts = graft.sources.Sources.mapOptions(options) +
      ("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "__corrupt")
    val raw = spark.readStream.text(location)
      .select(col("value"), input_file_name().as("src_file"))
    val q = raw.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // a micro-batch is bounded: persist so the two sides split one
        // parse instead of re-scanning the source files per sink
        val parsed = batch.select(col("value"), col("src_file"),
          from_csv(col("value"), parseSchema, parseOpts).as("__r"))
          .persist()
        try {
          parsed.filter(col("__r.__corrupt").isNotNull)
            .select(col("value").as("raw_record"), col("src_file"))
            .write.mode("overwrite").parquet(s"$quarantinePath/batch=$batchId")
          parsed.filter(col("__r.__corrupt").isNull)
            .select(structType.fieldNames.map(n => col("__r").getField(n).as(n)).toSeq: _*)
            .write.mode("overwrite").parquet(s"$outPath/batch=$batchId"): Unit
        } finally { parsed.unpersist(blocking = false): Unit }
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Per-user materialized state — the streaming "profile table" shape:
    * the latest click (by event time, event_id tie-break) and the running
    * click count for every user. An UNWATERMARKED Update-mode aggregation:
    * state is one narrow row per user — bounded by user cardinality, the
    * materialized-view contract, NOT by time — and each trigger emits only
    * the users that batch touched. Drained through [[runToSink]] into a
    * `refresh: upsert` target (merge key user_id), each emission REPLACES
    * the user's row, so the sink always holds current state: the
    * streaming-upsert composition a serving layer reads. The argmax is a
    * max over (ts, event_id, cents) structs — arrival-order-independent,
    * so replay/reorder cannot change the result. */
  def lastClickState(events: DataFrame): DataFrame =
    events.filter(col("event_type") === "click")
      .groupBy(col("user_id"))
      .agg(
        max(struct(unix_micros(col("ts")).as("us"), col("event_id"),
          floor(col("value") * 100 + 0.5).cast("long").as("cents"))).as("m"),
        count(lit(1)).as("n_clicks"))
      .select(col("user_id"), col("n_clicks"),
        col("m.event_id").as("last_click_id"),
        col("m.cents").as("last_click_cents"))

  /** Stream-stream interval join: each click is matched with the same
    * user's errors in the preceding `intervalMinutes` — the "what broke
    * right before the user clicked away" shape. Both sides carry
    * watermarks so Spark bounds the join state to the interval (without
    * them, stream-stream join state grows forever).
    *
    * `joinType = "left_outer"`: a click with no error in its window is
    * emitted with a NULL error_id — but only once the watermark proves
    * no matching error can still arrive (the null rows surface from the
    * state store on watermark advance, flushed at end-of-stream by the
    * no-data micro-batch). Same bounded state as the inner form. */
  def clicksWithRecentErrors(events: DataFrame, intervalMinutes: Int,
                             joinType: String = "inner"): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
      .withWatermark("c_ts", s"$intervalMinutes minutes")
    val errors = events.filter(col("event_type") === "error")
      .select(col("user_id").as("e_user"), col("ts").as("e_ts"),
        col("event_id").as("error_id"))
      .withWatermark("e_ts", s"$intervalMinutes minutes")
    clicks.join(errors,
      col("c_user") === col("e_user") &&
        col("e_ts") >= col("c_ts") - expr(s"INTERVAL $intervalMinutes MINUTES") &&
        col("e_ts") <= col("c_ts"),
      joinType)
      // coalesce: under full_outer an unmatched ERROR row has no c_user
      // (identical to c_user for inner/left, where c_user is non-null)
      .select(coalesce(col("c_user"), col("e_user")).as("user_id"),
        col("click_id"), col("error_id"))
  }

  /** Streaming AS-OF enrichment — [[graft.operators.AsOfJoin]]'s
    * streaming twin: each event picks up the LATEST dim row at or
    * before its event time, from a SPARSE static dimension (rates
    * posted every 3 hours here; an event between postings must reach
    * BACK, which a plain hour-equality join cannot express).
    *
    * Shape: stream-static inner join on the candidate window (stateless
    * — the static side broadcasts), then an event-keyed argmax
    * aggregation picks the latest posting ≤ ts. The aggregation is the
    * only stateful op and its state is one row per in-horizon event,
    * freed by the watermark. max_by's tie risk is absent by
    * construction: posting times are unique per dim series. */
  def asofEnrichStream(events: DataFrame, dim: DataFrame,
                       horizonHours: Int = 6): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .join(broadcast(dim),
        col("user_band") === col("band") &&
          col("posted_ts") <= col("ts") &&
          col("posted_ts") > col("ts") - expr(s"INTERVAL $horizonHours HOURS"))
      .groupBy(col("event_id"), col("ts"))
      .agg(max_by(col("rate_e6"), col("posted_ts")).as("rate_e6"),
        max(col("posted_ts")).as("rate_ts"))

  /** Deterministic sparse dim for [[asofEnrichStream]]: one posting per
    * (band, every-3rd-hour) over the events fixture's time range, rate
    * = md5-derived micro-int of (band, hour) — engine-replayable. */
  def rateDim(spark: SparkSession, dir: String, bands: Int = 4): DataFrame = {
    val ev = graft.queries.Tables.events(spark, dir)
    // Collect the bounds as epoch MICROS (timezone-free longs), never as
    // java.sql.Timestamp: a Timestamp renders via toString in the JVM
    // default zone but would re-parse as a literal under the UTC session
    // zone, shifting every posting instant by the zone offset on any
    // non-UTC JVM (and with it the as-of picks and md5-derived rates).
    val range = ev.agg(
      unix_micros(date_trunc("hour", min(col("ts")))).as("lo"),
      unix_micros(date_trunc("hour", max(col("ts")))).as("hi")).head
    val loUs = range.getLong(0); val hiUs = range.getLong(1)
    spark.range(bands)
      .select(col("id").cast("int").as("band"))
      .crossJoin(
        spark.range(1).select(explode(sequence(
          timestamp_micros(lit(loUs)) - expr("INTERVAL 3 HOURS"),
          timestamp_micros(lit(hiUs)),
          expr("INTERVAL 3 HOURS"))).as("posted_ts")))
      .select(col("band"), col("posted_ts"),
        pmod(conv(substring(md5(concat_ws(":", col("band"),
          unix_timestamp(col("posted_ts")))), 1, 8), 16, 10).cast("long"),
          lit(1000000L)).as("rate_e6"))
  }

  /** Stream-stream LEFT SEMI interval join: clicks that saw at least one
    * error in their trailing interval — existence, not enumeration, so a
    * click with many errors emits ONCE (the stream-side EXISTS). A
    * matched left row emits as soon as its match arrives; unmatched rows
    * are silently dropped once the watermark passes them (state stays
    * watermark-bounded on both sides) — no null-padding, hence no
    * heartbeat machinery needed: negatives are never emitted at all. */
  def clicksSeenWithErrors(events: DataFrame, intervalMinutes: Int): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
      .withWatermark("c_ts", s"$intervalMinutes minutes")
    val errors = events.filter(col("event_type") === "error")
      .select(col("user_id").as("e_user"), col("ts").as("e_ts"))
      .withWatermark("e_ts", s"$intervalMinutes minutes")
    clicks.join(errors,
      col("c_user") === col("e_user") &&
        col("e_ts") >= col("c_ts") - expr(s"INTERVAL $intervalMinutes MINUTES") &&
        col("e_ts") <= col("c_ts"),
      "left_semi")
      .select(col("c_user").as("user_id"), col("click_id"))
  }

  final case class SessionState(start: Long, last: Long, n: Int)
  /** Session bounds as epoch MICROS (longs) — exact, no Timestamp
    * precision loss across the typed-encoder boundary. */
  final case class Session(user_id: Long, start_us: Long, end_us: Long, n_events: Int)

  /** Gap-based sessionization with custom state: consecutive events of a
    * user belong to one session until a silence > `gapMinutes`. Emits
    * CLOSED sessions; the trailing open session per user stays in state
    * (flushed by event-time timeout once later data advances the
    * watermark). Events within one micro-batch are sorted in-function —
    * per-user batch slices are small; state is one struct per user. */
  def sessionize(events: DataFrame, gapMinutes: Int): Dataset[Session] = {
    val gapUs = gapMinutes * 60L * 1000000L
    implicit val sessionEnc = Encoders.product[Session]
    implicit val longEnc = Encoders.scalaLong
    implicit val rowEnc = Encoders.tuple(
      Encoders.scalaLong, Encoders.scalaLong, Encoders.TIMESTAMP)
    implicit val stateEnc = Encoders.product[SessionState]

    val func: (Long, Iterator[(Long, Long, java.sql.Timestamp)], GroupState[SessionState]) => Iterator[Session] =
      (user, rows, state) => {
        if (state.hasTimedOut) {
          val s = state.get
          state.remove()
          Iterator.single(Session(user, s.start, s.last, s.n))
        } else {
          val times = rows.map(_._2).toArray.sorted
          val out = Seq.newBuilder[Session]
          var cur = state.getOption
          times.foreach { t =>
            cur match {
              case Some(s) if t - s.last <= gapUs =>
                cur = Some(SessionState(s.start, t, s.n + 1))
              case Some(s) =>
                out += Session(user, s.start, s.last, s.n)
                cur = Some(SessionState(t, t, 1))
              case None => cur = Some(SessionState(t, t, 1))
            }
          }
          cur.foreach { s =>
            state.update(s)
            // flatMapGroupsWithState still delivers late rows; a timeout
            // computed from a late last-event would be <= the current
            // watermark and setTimeoutTimestamp THROWS on that — clamp
            // to just past the watermark so the session closes on the
            // next watermark advance instead of killing the query.
            val wanted = s.last / 1000 + gapMinutes * 60L * 1000
            val floor = state.getCurrentWatermarkMs() + 1
            state.setTimeoutTimestamp(math.max(wanted, floor))
          }
          out.result().iterator
        }
      }

    events
      .withWatermark("ts", s"$gapMinutes minutes")
      // keep `ts` in the projection: the watermark tag must survive to
      // the flatMapGroupsWithState child for event-time timeout
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("ts"))
      .as[(Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(func)
  }

  final case class PathState(start: Long, last: Long, n: Int, types: Seq[String])
  final case class PathSession(user_id: Long, start_us: Long, end_us: Long,
                               n_events: Int, path: String)

  /** [[sessionize]] carrying the session's PATH — the first `maxLen`
    * event types in (us, event_id) order, '>'-joined (q92's capped-path
    * discipline: the cap bounds state at maxLen strings per user no
    * matter how long a session runs). Emits CLOSED sessions (gap or
    * event-time timeout); the [[transitionsStream]] ordering contract
    * applies ACROSS batches (the sharded reader pins per-user event-time
    * order; within a batch the iterator sorts by (us, event_id)). */
  def pathSessionize(events: DataFrame, gapMinutes: Int,
                     maxLen: Int = 8): Dataset[PathSession] = {
    val gapUs = gapMinutes * 60L * 1000000L
    implicit val outEnc = Encoders.product[PathSession]
    implicit val stateEnc = Encoders.product[PathState]
    implicit val longEnc = Encoders.scalaLong
    implicit val rowEnc = Encoders.tuple(Encoders.scalaLong,
      Encoders.scalaLong, Encoders.scalaLong, Encoders.STRING,
      Encoders.TIMESTAMP)

    def emit(user: Long, s: PathState): PathSession =
      PathSession(user, s.start, s.last, s.n, s.types.mkString(">"))

    val func: (Long, Iterator[(Long, Long, Long, String, java.sql.Timestamp)],
               GroupState[PathState]) => Iterator[PathSession] =
      (user, rows, state) => {
        if (state.hasTimedOut) {
          val s = state.get
          state.remove()
          Iterator.single(emit(user, s))
        } else {
          val sorted = rows.toArray.sortBy(r => (r._2, r._3))
          val out = Seq.newBuilder[PathSession]
          var cur = state.getOption
          sorted.foreach { case (_, us, _, typ, _) =>
            cur match {
              case Some(s) if us - s.last <= gapUs =>
                cur = Some(PathState(s.start, us, s.n + 1,
                  if (s.types.size < maxLen) s.types :+ typ else s.types))
              case Some(s) =>
                out += emit(user, s)
                cur = Some(PathState(us, us, 1, Seq(typ)))
              case None => cur = Some(PathState(us, us, 1, Seq(typ)))
            }
          }
          cur.foreach { s =>
            state.update(s)
            val wanted = s.last / 1000 + gapMinutes * 60L * 1000
            val floor = state.getCurrentWatermarkMs() + 1
            state.setTimeoutTimestamp(math.max(wanted, floor))
          }
          out.result().iterator
        }
      }

    events
      // the tuple encoder would throw on a null user_id and a null ts
      // yields no watermark — drop both up front (the attributionStream
      // feeder discipline; the st47 oracle filters identically)
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .withWatermark("ts", s"$gapMinutes minutes")
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type"), col("ts"))
      .as[(Long, Long, Long, String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(func)
  }

  /** The SAME gap sessionization on Spark 4's arbitrary-state API v2
    * (`transformWithState` / [[org.apache.spark.sql.streaming.StatefulProcessor]]):
    * ValueState for the open session, an explicit event-time TIMER per
    * user for the close. Two semantic differences from
    * [[sessionize]]'s flatMapGroupsWithState, both mirrored in the
    * oracle:
    *  - timers fire INCLUSIVELY (`timer <= watermark`,
    *    TimerStateImpl.getExpiredTimers) where GroupStateTimeout fires
    *    strictly (`timeout < watermark`);
    *  - timers are first-class state: extending a session DELETES the
    *    stale timer and registers the new one (no clamp needed —
    *    registerTimer accepts past timestamps; a past timer just fires
    *    on the next batch).
    * TWS requires the RocksDB state-store provider — which is the 100 TB
    * state path anyway (state off-heap on disk, changelog-checkpointed).
    */
  final class SessionProcessor(gapMinutes: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, java.sql.Timestamp), Session] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TimerValues, TTLConfig, ValueState}
    @transient private var state: ValueState[SessionState] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      state = getHandle.getValueState[SessionState]("session",
        Encoders.product[SessionState], TTLConfig.NONE)

    override def handleInputRows(user: Long,
        rows: Iterator[(Long, Long, java.sql.Timestamp)],
        timers: TimerValues): Iterator[Session] = {
      val gapUs = gapMinutes * 60L * 1000000L
      val times = rows.map(_._2).toArray.sorted
      val out = Seq.newBuilder[Session]
      var cur = if (state.exists()) Some(state.get()) else None
      times.foreach { t =>
        cur match {
          case Some(s) if t - s.last <= gapUs =>
            cur = Some(SessionState(s.start, t, s.n + 1))
          case Some(s) =>
            out += Session(user, s.start, s.last, s.n)
            cur = Some(SessionState(t, t, 1))
          case None => cur = Some(SessionState(t, t, 1))
        }
      }
      cur.foreach { s =>
        state.update(s)
        // replace, don't accumulate: a stale timer from a shorter session
        // would close the extended one early
        getHandle.listTimers().foreach(getHandle.deleteTimer)
        getHandle.registerTimer(s.last / 1000 + gapMinutes * 60L * 1000)
      }
      out.result().iterator
    }

    override def handleExpiredTimer(user: Long, timers: TimerValues,
        info: ExpiredTimerInfo): Iterator[Session] =
      if (state.exists()) {
        val s = state.get()
        state.clear()
        Iterator.single(Session(user, s.start, s.last, s.n))
      } else Iterator.empty
  }

  def sessionizeTws(events: DataFrame, gapMinutes: Int): Dataset[Session] = {
    implicit val sessionEnc = Encoders.product[Session]
    implicit val longEnc = Encoders.scalaLong
    implicit val rowEnc = Encoders.tuple(
      Encoders.scalaLong, Encoders.scalaLong, Encoders.TIMESTAMP)
    events
      .withWatermark("ts", s"$gapMinutes minutes")
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("ts"))
      .as[(Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .transformWithState(new SessionProcessor(gapMinutes),
        org.apache.spark.sql.streaming.TimeMode.EventTime(), OutputMode.Append())
  }

  final case class LastEvent(us: Long, eid: Long, typ: String)
  final case class Transition(user_id: Long, from_type: String, to_type: String)

  /** Per-user Markov transitions ON THE STREAM: each user’s consecutive
    * (event → next event) pairs, emitted as the successor arrives. State
    * is ONE tiny struct per user (the last seen event) — no buffer, no
    * watermark, Append output; the q90 batch aggregation then runs over
    * the drained pairs.
    *
    * Ordering contract: exact equality with the batch lead() oracle
    * requires the replay to deliver each user’s events in (ts, event_id)
    * order ACROSS micro-batches — [[readEventsStreamSharded]] pins this
    * (ntile slices over the same total order, mtime-ordered). Within a
    * batch the group iterator sorts itself. An out-of-order production
    * feed would need the sessionize-style buffering variant (hold rows
    * until the watermark passes them) — deliberately not paid here:
    * the contract is documented instead, matching how st20’s replay
    * join states its ordering assumption. */
  def transitionsStream(events: DataFrame): Dataset[Transition] = {
    implicit val outEnc = Encoders.product[Transition]
    implicit val stateEnc = Encoders.product[LastEvent]
    implicit val rowEnc = Encoders.tuple(
      Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong, Encoders.STRING)
    val func: (Long, Iterator[(Long, Long, Long, String)],
               GroupState[LastEvent]) => Iterator[Transition] =
      (user, rows, state) => {
        val sorted = rows.toArray.sortBy(r => (r._2, r._3))
        val out = Seq.newBuilder[Transition]
        var last = state.getOption
        sorted.foreach { case (_, us, eid, typ) =>
          last.foreach(l => out += Transition(user, l.typ, typ))
          last = Some(LastEvent(us, eid, typ))
        }
        last.foreach(state.update)
        out.result().iterator
      }
    events
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"),
        col("event_type"))
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(func)
  }

  final case class LastTouch(us: Long, typ: String)
  final case class Attribution(user_id: Long, purchase_us: Long, channel: String)

  /** LAST-TOUCH attribution ON THE STREAM (q94's semantics): one
    * ValueState per user holds the latest non-purchase touch; each
    * arriving purchase emits its channel — the touch within 7 days, else
    * 'direct' — then the state keeps tracking. Same
    * [[transitionsStream]] ordering contract: exactness vs the batch
    * running-last oracle needs per-user (us, event_id) order across
    * batches ([[readEventsStreamSharded]] pins it; the group iterator
    * sorts within a batch). State is (long, string) per user. */
  def attributionStream(events: DataFrame): Dataset[Attribution] = {
    implicit val outEnc = Encoders.product[Attribution]
    implicit val stateEnc = Encoders.product[LastTouch]
    implicit val rowEnc = Encoders.tuple(
      Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong, Encoders.STRING)
    val windowUs = 7L * 86400L * 1000000L
    val func: (Long, Iterator[(Long, Long, Long, String)],
               GroupState[LastTouch]) => Iterator[Attribution] =
      (user, rows, state) => {
        val sorted = rows.toArray.sortBy(r => (r._2, r._3))
        val out = Seq.newBuilder[Attribution]
        var last = state.getOption
        sorted.foreach { case (_, us, _, typ) =>
          if (typ == "purchase") {
            val channel = last match {
              case Some(l) if l.us >= us - windowUs => l.typ
              case _ => "direct"
            }
            out += Attribution(user, us, channel)
          } else last = Some(LastTouch(us, typ))
        }
        last.foreach(state.update)
        out.result().iterator
      }
    events
      // null event_type rows drop entirely: in q94's batch they are
      // neither touches (ignoreNulls skips them) nor purchases (the
      // equality filter rejects null) — storing one as a touch here
      // would emit a NULL channel the oracle never produces
      .filter(col("user_id").isNotNull && col("ts").isNotNull &&
        col("event_type").isNotNull)
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"),
        col("event_type"))
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(func)
  }

  final case class FirstDay(day: Long)
  final case class CohortHit(cohort_day: Long, day_offset: Long, user_id: Long)

  /** Streaming per-(slice, token) unigram counts — the drift-attribution
    * feeder (st44): one Update-mode aggregation over the exploded token
    * stream, restricted to the two slices under comparison. The same
    * order-free changelog discipline as [[funnelStageMins]], with MAX as
    * the collapse: counts only ever grow, so the drained changelog's
    * per-key maximum IS the final count under any arrival order and any
    * batch split. State is one long per (slice, token) — dictionary-
    * bounded, not corpus-bounded (and slice-filtered before the explode,
    * so tokens outside the comparison never enter state). */
  def tokenCountsStream(docs: DataFrame, sliceCol: String, textCol: String,
                        sliceA: String, sliceB: String): DataFrame =
    tokenCountsStreamAll(
      docs.filter(col(sliceCol).isin(sliceA, sliceB)), sliceCol, textCol)

  /** [[tokenCountsStream]] over EVERY slice — the feeder for whole-corpus
    * census consumers (st45 vocabulary census); same Update-mode
    * MAX-collapse changelog contract. */
  def tokenCountsStreamAll(docs: DataFrame, sliceCol: String,
                           textCol: String): DataFrame =
    docs
      .filter(col(sliceCol).isNotNull && col(textCol).isNotNull)
      .select(col(sliceCol).as("slice"),
        explode(filter(split(trim(col(textCol)), "\\s+"), t => t =!= ""))
          .as("token"))
      .groupBy(col("slice"), col("token"))
      .agg(count(lit(1)).as("c"))

  /** Per-(doc, hash-bucket) token counts ON THE STREAM — the
    * domain-affinity feeder (st50): one Update-mode aggregation over
    * [[graft.operators.TextAnalysis.tokenBuckets]]'s explode (the SAME
    * bucketing as the batch scorer), MAX-collapse changelog (counts
    * only grow — order-free under any batch split). State is one long
    * per (doc, bucket) — corpus-bounded like st08/st48's exact tiers,
    * the documented cost of exact per-doc scoring at ingest (a
    * watermark-windowed variant bounds it when docs arrive whole, which
    * they do here — each doc is one row, so state is only ever written
    * once and a production deployment would TTL it). */
  def docBucketCountsStream(docs: DataFrame, idCol: String, textCol: String,
                            salt: String): DataFrame =
    graft.operators.TextAnalysis.tokenBuckets(
      docs.filter(col(textCol).isNotNull),
      Seq(col(idCol).as("doc_id")), textCol, salt)
      .groupBy(col("doc_id"), col("__b"))
      .agg(count(lit(1)).as("cd"))

  /** Streaming per-(slice, content-hash) copy counts + min doc id — the
    * dup-rate feeder (st48): one Update-mode aggregation; BOTH state
    * fields are order-free (count only grows → changelog collapses by
    * MAX; min id only tightens → collapses by MIN), so any batching
    * converges to the batch frame and ext128's family math runs
    * downstream. State is (long, long) per DISTINCT (slice, hash) —
    * corpus-hash-bounded like st08's exact-dedup seen-set, the
    * documented cost of exact streaming dedup (a production variant
    * fronts it with a Bloom tier, the st33 shape). */
  def dupCountsStream(docs: DataFrame, idCol: String, textCol: String,
                      sliceCol: String): DataFrame =
    // NO null filter: the batch twin (Dedup.dupRateBySlice) and the
    // shared oracle keep null-slice/null-text rows (md5(NULL) groups as
    // one family in both engines) — filtering here would make the
    // stream compute a different population than the query it mirrors
    docs
      .select(col(sliceCol).as("slice"), md5(col(textCol)).as("h"),
        col(idCol).as("doc_id"))
      .groupBy(col("slice"), col("h"))
      .agg(count(lit(1)).as("c"), min(col("doc_id")).as("min_id"))

  /** Streaming first-touch funnel stage mins (q89's per-user frame ON
    * THE STREAM): one Update-mode aggregation holding four conditional
    * mins per user — the changelog an upsert sink consumes. Unlike
    * [[transitionsStream]]/[[retentionStream]] there is NO ordering
    * contract at all: min is commutative and idempotent, so ANY batch
    * split of any arrival order converges to the same per-user row, and
    * the drained changelog collapses exactly by re-minning per user
    * (each emission only ever tightens). State is four longs per user,
    * no watermark (first-touch semantics are all-time by definition —
    * the retentionStream trade-off, documented there). */
  def funnelStageMins(events: DataFrame): DataFrame =
    events
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "signup", col("us"))).as("t1"),
        min(when(col("event_type") === "view", col("us"))).as("t2"),
        min(when(col("event_type") === "click", col("us"))).as("t3"),
        min(when(col("event_type") === "purchase", col("us"))).as("t4"))

  /** First-touch cohort assignment ON THE STREAM: each user's first-seen
    * epoch-day is remembered as one ValueState long; every arriving
    * event emits its (cohort_day, day_offset, user_id) hit, and the
    * batch retention matrix (q88) aggregates the drained hits. Same
    * ordering contract as [[transitionsStream]]: the first-seen day is
    * only exact if each user's FIRST event arrives before the rest
    * ([[readEventsStreamSharded]] pins event-time order across
    * batches; within a batch the iterator sorts itself). Day indices
    * are integer epoch-micros arithmetic, the q88 discipline.
    */
  def retentionStream(events: DataFrame): Dataset[CohortHit] = {
    implicit val outEnc = Encoders.product[CohortHit]
    implicit val stateEnc = Encoders.product[FirstDay]
    implicit val rowEnc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    val func: (Long, Iterator[(Long, Long)],
               GroupState[FirstDay]) => Iterator[CohortHit] =
      (user, rows, state) => {
        val days = rows.map(_._2 / 86400000000L).toArray.sorted
        if (days.isEmpty) Iterator.empty
        else {
          val first = state.getOption.map(_.day).getOrElse(days.head) min days.head
          state.update(FirstDay(first))
          days.iterator.map(d => CohortHit(first, d - first, user))
        }
      }
    events
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
      .as[(Long, Long)]
      .groupByKey(_._1)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(func)
  }
}
