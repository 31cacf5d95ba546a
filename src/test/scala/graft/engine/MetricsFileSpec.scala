package graft.engine

import org.json4s.{JInt, JObject}

import graft.SparkSpec
import graft.config.ConfigParser
import graft.util.Json

/** `_graft_metrics.json` is valid JSON whatever the observed column is
  * called: its keys go through the one metadata string escape. */
class MetricsFileSpec extends SparkSpec {
  import spark.implicits._

  test("observe_cols metrics parse back for a column named with a backslash") {
    val base = java.nio.file.Files.createTempDirectory("metrics-spec").toString
    Seq((1, "a"), (2, null)).toDF("k", "v").write.parquet(s"$base/in")
    Engine.run(spark, ConfigParser.parse(
      s"""job: {name: j, type: spark-sql}
         |input_tables:
         |  - {name: t, source: s3, location: $base/in}
         |output_table:
         |  name: o
         |  target: s3
         |  location: $base/out
         |  observe_cols: 'k, b\\c'
         |sql: 'SELECT k, v AS `b\\c` FROM t'
         |""".stripMargin), "default"): Unit
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$base/out/_graft_metrics.json")), "UTF-8")
    val metrics = Json.parse(text) match {
      case JObject(fs) => fs.map { case (k, v) => (k, v.asInstanceOf[JInt].num.toLong) }
      case other => fail(s"not an object: $other")
    }
    assert(metrics == Seq("n_rows" -> 2L, "nonnull_b\\c" -> 1L, "nonnull_k" -> 2L))
  }
}
