package graft
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** Serializes `SparkEntry.oracleSql` as the driver-shaped
  * `oracle_sql.json`. Shared by [[Verify]] (end-of-run dump) and
  * OracleTypeLintSpec (which lints the declared output types in DuckDB
  * without executing any query) so the two can never disagree on
  * escaping.
  */
object OracleJson {
  private val Json = new ObjectMapper()

  /** One JSON object, entries in the map's iteration order. Jackson
    * escapes every control character, so a tab or CR in an oracle's
    * SQL cannot make a reader's `json.load` (tools/oracle_check.py)
    * fail. */
  def dump(path: Path, oracle: Map[String, String] = SparkEntry.oracleSql): Unit =
    Files.writeString(path, Json.writeValueAsString(oracle.asJava))
}
