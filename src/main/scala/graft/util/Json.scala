package graft.util

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}
import org.json4s._

/** The one JSON codec for graft's metadata files. graft keeps table
  * metadata in its own small JSON files instead of a catalog, so their
  * encoding is the table-format contract, and this module owns it:
  *  - [[quote]] is the single JSON string escape (quote, backslash and
  *    every control char escaped; all other text, non-ASCII included,
  *    written raw as UTF-8);
  *  - each metadata file is one case class below, whose field names and
  *    field order are the on-disk contract (README, "On-disk metadata");
  *  - [[write]] renders a record compactly in field order and leaves out
  *    `None` fields; [[read]] decodes one with json4s, ignoring unknown
  *    fields and filling absent ones from `None` or the field default.
  *
  * Numbers decode exactly: integers as BigInt, fractions as BigDecimal,
  * never through Double, so zone-map bounds beyond 2^53 and decimal(38,s)
  * values survive a round trip, and decimals render in plain notation.
  */
object Json {
  private implicit val formats: Formats = DefaultFormats

  /** `s` as a JSON string literal. */
  def quote(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 2).append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  /** Compact JSON text of `v`; object fields holding JNothing are left out. */
  def render(v: JValue): String = v match {
    case JString(s) => quote(s)
    case JInt(i) => i.toString
    case JLong(l) => l.toString
    case JDecimal(d) => d.bigDecimal.toPlainString
    case JDouble(d) => d.toString
    case JBool(b) => b.toString
    case JNull | JNothing => "null"
    case JArray(xs) => xs.map(render).mkString("[", ",", "]")
    case JSet(xs) => render(JArray(xs.toList))
    case JObject(fs) => fs.collect { case (k, x) if x != JNothing =>
      quote(k) + ":" + render(x) }.mkString("{", ",", "}")
  }

  def parse(text: String): JValue =
    jackson.JsonMethods.parse(text, useBigDecimalForDouble = true, useBigIntForLong = true)

  /** A metadata record (one of the case classes below) as JSON text. */
  def write(record: AnyRef): String = render(Extraction.decompose(record))

  /** An ordered object of named scalars — the metrics files, whose keys
    * are column names rather than fixed fields. */
  def fields(kv: Seq[(String, Any)]): String =
    render(JObject(kv.map { case (k, v) => k -> Extraction.decompose(v) }.toList))

  /** Decode `j` as an `A`; text that is not JSON, or lacks a required
    * field, raises an IOException. */
  def extract[A](j: JValue)(implicit mf: scala.reflect.Manifest[A]): A =
    try Extraction.extract[A](j)(formats, mf)
    catch { case e: MappingException => throw new java.io.IOException(
      s"malformed ${mf.runtimeClass.getSimpleName} metadata: ${e.getMessage}", e) }

  def read[A](text: String)(implicit mf: scala.reflect.Manifest[A]): A =
    extract[A](parse(text))

  def readFile(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  def writeFile(fs: FileSystem, p: Path, text: String): Unit = {
    val os = fs.create(p, true)
    try os.write(text.getBytes(UTF_8)) finally os.close()
  }

  def load[A](fs: FileSystem, p: Path)(implicit mf: scala.reflect.Manifest[A]): A =
    read[A](readFile(fs, p))

  // ------------------------------------------------------------ the files

  /** One data file a manifest lists: its name and size in bytes. */
  final case class FileEntry(name: String, bytes: Long)

  /** A versioned-table manifest, `_graft_log/vNNNNN.json` on main and
    * `vNNNNN@branch.json` on a branch: the complete file list of one
    * version plus its commit metadata. `ts` is absent from manifests
    * written before wall-clock time travel; `txn_*` only on streaming
    * commits; `stats_file` names the zone-map sidecar and `dv_file` the
    * deletion-vector directory, both under `_graft_log/`. `schema` is
    * Spark's StructType JSON of every listed file (Delta's
    * `schemaString`); absent from manifests written before it existed and
    * after an append that evolved the schema. */
  final case class Manifest(version: Long, ts: Option[Long],
                            mode: String = "overwrite",
                            txn_app: Option[String] = None,
                            txn_batch: Option[Long] = None,
                            stats_file: Option[String] = None,
                            dv_file: Option[String] = None,
                            dv_rows: Option[Long] = None,
                            n_files: Long, files: Seq[FileEntry],
                            schema: Option[String] = None) {
    def names: Seq[String] = files.map(_.name)
    def dv: Option[(String, Long)] = dv_file.map((_, dv_rows.getOrElse(0L)))
  }

  /** The lines of a zone-map sidecar `_graft_log/stats-*.jsonl`, one JSON
    * object per line: per-(file, column) min/max/null count, where
    * min/max are canonical values (number, string or null); per-file row
    * counts; per-(file, column) value-bucket bitmaps (base64). */
  final case class StatsLine(name: String, col: String, min: JValue, max: JValue,
                             nulls: Long)
  final case class RowsLine(name: String, rows: Long)
  final case class BucketsLine(name: String, col: String, buckets: String)

  /** `_graft_log/.rebase-commit-<branch>-<uuid>.json`: a decided branch
    * rebase — the temp lineage to adopt and its versions. */
  final case class RebaseMarker(branch: String, tmp: String, versions: Seq[Long])

  /** `_graft_log/mv-state.json`: the source fingerprint a materialized
    * view was last computed from and the view version it produced. */
  final case class MvState(fingerprint: String, mv_version: Long, ts: Long)

  /** `_graft_ptr/vNNNNNNNNNNNN.json`: the generation directory a
    * pointer-layout table currently reads from. */
  final case class Pointer(gen: String, format: String)

  /** `<checkpoint>/_graft_cdc_offset.json`: the last versioned-table
    * version a CDC drain delivered. */
  final case class CdcOffset(version: Long)

  /** `_graft_manifest.json`: a published file table's row count and file
    * list, written inside the table directory. */
  final case class PublishManifest(table: String, format: String, row_count: Long,
                                   n_files: Long, total_bytes: Long,
                                   files: Seq[FileEntry])
}
