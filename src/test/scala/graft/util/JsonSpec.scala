package graft.util

import org.json4s.{JDecimal, JInt, JNull, JObject, JString, JValue}
import org.scalacheck.{Gen, Prop}
import org.scalacheck.Test.{check, Parameters}

import graft.SparkSpec
import graft.bookmarks.BookmarkStore

/** The metadata codec: every record round-trips through its JSON text
  * with its field types intact, and the files today's writers produce
  * still decode — and re-encode byte for byte. */
class JsonSpec extends SparkSpec {

  // the characters a metadata string must survive: quotes, backslashes,
  // every control char, non-ASCII text and astral-plane characters
  private val piece: Gen[String] = Gen.oneOf(
    Gen.oneOf("\"", "\\", "\\u0041", "/", " ", ":", ",", "{", "}", "[", "]"),
    Gen.choose(0, 0x1f).map(_.toChar.toString),
    Gen.oneOf("é", "漢字", "ß", "Ω", "ñ"),
    Gen.oneOf("😀", "𝄞", "🚀"),
    Gen.alphaNumStr.map(_.take(6)))
  private val text: Gen[String] =
    Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, piece)).map(_.mkString)
  private val long: Gen[Long] = Gen.oneOf(
    Gen.choose(Long.MinValue, Long.MaxValue),
    Gen.oneOf(0L, 1L, -1L, Long.MaxValue, Long.MinValue, (1L << 53) + 1))
  private val fileEntry: Gen[Json.FileEntry] =
    for (n <- text; b <- long) yield Json.FileEntry(n, b)
  private val files: Gen[List[Json.FileEntry]] =
    Gen.choose(0, 5).flatMap(Gen.listOfN(_, fileEntry))

  /** Encode, decode, compare — and USE the decoded numbers: a codec that
    * hands back a boxed Integer for a Long field still compares equal,
    * but throws on the first arithmetic use. */
  private def roundTrips[A <: AnyRef](gen: Gen[A])(use: A => Any)
                                     (implicit mf: Manifest[A]): Unit = {
    val prop = Prop.forAllNoShrink(gen) { a =>
      val back = Json.read[A](Json.write(a))
      back == a && use(back) == use(a)
    }
    val res = check(Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: quote decodes back to the same string") {
    val prop = Prop.forAllNoShrink(text)(s => Json.parse(Json.quote(s)) == JString(s))
    val res = check(Parameters.default.withMinSuccessfulTests(500), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: manifests round-trip with typed numbers") {
    val manifest = for {
      v <- long; ts <- Gen.option(long); mode <- text
      app <- Gen.option(text); batch <- Gen.option(long)
      stats <- Gen.option(text); dv <- Gen.option(text); dvRows <- Gen.option(long)
      fs <- files; schema <- Gen.option(text)
    } yield Json.Manifest(v, ts, mode, app, batch, stats, dv, dvRows, fs.size.toLong, fs,
      schema)
    roundTrips(manifest)(m => (m.version + 1L, m.ts.map(_ + 1L),
      m.txn_batch.map(_ + 1L), m.dv_rows.map(_ + 1L), m.n_files + 1L,
      m.files.map(_.bytes + 1L)))
  }

  test("property: rebase markers, MV state, pointers and CDC offsets round-trip") {
    roundTrips(for (b <- text; t <- text; vs <- Gen.listOf(long))
      yield Json.RebaseMarker(b, t, vs))(m => m.versions.map(_ + 1L))
    roundTrips(for (fp <- text; v <- long; ts <- long)
      yield Json.MvState(fp, v, ts))(s => (s.mv_version + 1L, s.ts + 1L))
    roundTrips(for (g <- text; f <- text) yield Json.Pointer(g, f))(identity)
    roundTrips(long.map(Json.CdcOffset(_)))(_.version + 1L)
    roundTrips(for (t <- text; f <- text; r <- long; b <- long; fs <- files)
      yield Json.PublishManifest(t, f, r, fs.size.toLong, b, fs))(m =>
      (m.row_count + 1L, m.n_files + 1L, m.total_bytes + 1L, m.files.map(_.bytes + 1L)))
  }

  test("property: stats-sidecar lines round-trip, bounds exactly") {
    val bound: Gen[JValue] = Gen.oneOf(
      Gen.const(JNull),
      long.map(l => JInt(BigInt(l))),
      long.map(l => JInt(BigInt(l) * BigInt(l))), // past 64 bits
      for (u <- long; scale <- Gen.choose(1, 30))
        yield JDecimal(BigDecimal(BigInt(u), scale)),
      text.map(JString(_)))
    roundTrips(for (n <- text; c <- text; lo <- bound; hi <- bound; nulls <- long)
      yield Json.StatsLine(n, c, lo, hi, nulls))(l =>
      (l.nulls + 1L, Json.render(l.min), Json.render(l.max)))
    roundTrips(for (n <- text; r <- long) yield Json.RowsLine(n, r))(_.rows + 1L)
    roundTrips(for (n <- text; c <- text; b <- text)
      yield Json.BucketsLine(n, c, b))(identity)
  }

  test("property: metrics objects keep key order and decode every key") {
    val prop = Prop.forAllNoShrink(Gen.listOf(Gen.zip(text, long))) { kv =>
      val unique = kv.distinctBy(_._1)
      Json.parse(Json.fields(unique)) match {
        case JObject(fs) => fs.map { case (k, v) => (k, v.asInstanceOf[JInt].num.toLong) } == unique
        case _ => false
      }
    }
    val res = check(Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: bookmark state round-trips through the snakeyaml reader") {
    val dir = java.nio.file.Files.createTempDirectory("json-spec-bm")
    val store = new BookmarkStore(spark, s"$dir/state.json")
    val mark = for (w <- long; seen <- Gen.mapOf(Gen.zip(text, long)))
      yield store.SourceMark(w, seen)
    val prop = Prop.forAllNoShrink(Gen.mapOf(Gen.zip(text, mark))) { marks =>
      store.save(marks)
      val back = store.load()
      back == marks &&
        back.view.mapValues(_.watermark + 1L).toMap == marks.view.mapValues(_.watermark + 1L).toMap
    }
    val res = check(Parameters.default.withMinSuccessfulTests(100), prop)
    assert(res.passed, res.status.toString)
  }

  // ---------------------------------------------- today's writer output

  private val manifests = Seq(
    """{"version":3,"ts":1760000000123,"mode":"append","n_files":2,"files":[""" +
      """{"name":"0a1b2c3d-part-00000-x.snappy.parquet","bytes":1024},""" +
      """{"name":"4e5f6a7b-part-00001-y.snappy.parquet","bytes":2048}]}""",
    // written before wall-clock time travel: no ts
    """{"version":1,"mode":"overwrite","n_files":1,"files":""" +
      """[{"name":"0a1b2c3d-part-00000-x.snappy.parquet","bytes":512}]}""",
    """{"version":7,"ts":1760000000999,"mode":"append","txn_app":"/ckpt/q1",""" +
      """"txn_batch":12,"stats_file":"stats-1a2b3c4d.jsonl","dv_file":"dv-5e6f7a8b",""" +
      """"dv_rows":3,"n_files":1,"files":[{"name":"1a2b3c4d-part-00000.parquet","bytes":77}]}""",
    """{"version":4,"ts":1760000000500,"mode":"branch","stats_file":"stats-9f8e7d6c.jsonl",""" +
      """"n_files":0,"files":[]}""")

  test("today's manifests decode, and re-encode byte for byte") {
    manifests.foreach(t => assert(Json.write(Json.read[Json.Manifest](t)) == t))
    val Seq(plain, legacy, txn, branch) = manifests.map(Json.read[Json.Manifest](_))
    assert(plain.ts.contains(1760000000123L) && plain.files.map(_.bytes).sum == 3072L)
    assert(legacy.ts.isEmpty && legacy.mode == "overwrite" && legacy.names.size == 1)
    assert(txn.txn_app.contains("/ckpt/q1") && txn.txn_batch.map(_ + 1L).contains(13L))
    assert(txn.dv.contains(("dv-5e6f7a8b", 3L)) && txn.stats_file.contains("stats-1a2b3c4d.jsonl"))
    assert(branch.mode == "branch" && branch.files.isEmpty && branch.dv.isEmpty)
    // an escaped control char in a name decodes (the old readers kept \u0009)
    val escaped = "a" + "\\" + "u0009b" // the six characters \u0009 between a and b
    assert(Json.read[Json.Manifest](
      s"""{"version":1,"mode":"overwrite","n_files":1,"files":[{"name":"$escaped","bytes":1}]}""")
      .names == Seq("a\tb"))
  }

  test("today's other metadata files decode, and re-encode byte for byte") {
    def same[A <: AnyRef](t: String)(implicit mf: Manifest[A]): A = {
      val a = Json.read[A](t)
      assert(Json.write(a) == t)
      a
    }
    val marker = same[Json.RebaseMarker](
      """{"branch":"exp","tmp":"exp.rebase-0a1b2c3d","versions":[5,6]}""")
    assert(marker.versions.sum == 11L)
    val line = same[Json.StatsLine](
      """{"name":"f.parquet","col":"k","min":-5,"max":12.500,"nulls":0}""")
    assert(Json.render(line.max) == "12.500")
    same[Json.StatsLine]("""{"name":"f.parquet","col":"s","min":"a\"b","max":null,"nulls":2}""")
    same[Json.RowsLine]("""{"name":"f.parquet","rows":40}""")
    same[Json.BucketsLine]("""{"name":"f.parquet","col":"k","buckets":"AAEC+/=="}""")
    same[Json.MvState]("""{"fingerprint":"a=v3,b=v0","mv_version":2,"ts":1760000000000}""")
    same[Json.Pointer]("""{"gen":"g-1760000000000-0a1b2c3d","format":"parquet"}""")
    same[Json.CdcOffset]("""{"version":9}""")
    same[Json.PublishManifest]("""{"table":"o","format":"parquet","row_count":50,""" +
      """"n_files":1,"total_bytes":300,"files":[{"name":"p=1/part-0.parquet","bytes":300}]}""")
    assert(Json.fields(Seq("n_rows" -> 50L, "nonnull_v" -> 49L)) ==
      """{"n_rows":50,"nonnull_v":49}""")
  }

  test("a legacy flat bookmark file still loads") {
    val dir = java.nio.file.Files.createTempDirectory("json-spec-legacy")
    java.nio.file.Files.writeString(dir.resolve("state.json"), """{"s1": 1500000}""")
    val marks = new BookmarkStore(spark, s"$dir/state.json").load()
    assert(marks.keySet == Set("s1") && marks("s1").watermark + 1L == 1500001L &&
      marks("s1").seen.isEmpty)
  }

  test("malformed metadata is an IOException, not a silent default") {
    intercept[java.io.IOException](Json.read[Json.Manifest]("""{"version":1}"""))
    intercept[java.io.IOException](Json.read[Json.Manifest]("""{"version":"""))
  }
}
