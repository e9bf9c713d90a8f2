package graftbench

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Pinned expected outputs (`pins.json`): per registry query the row count
  * and fingerprint of its full result, the SHA-1 of its output schema, and
  * whether that result matched the query's DuckDB oracle when it was
  * pinned (`match`, `none` when the query has no oracle, or `mismatch`).
  * A mismatching or unpinned query always fails its check.
  */
final class Pins(root: JsonNode) {
  private def entry(name: String): Option[JsonNode] =
    Option(root).map(_.path("queries").path(name)).filterNot(_.isMissingNode)

  private def oracleFailure(e: JsonNode): Option[String] =
    if (e.path("oracle").asText() == "mismatch") Some("OracleMismatch: pinned output differs from its DuckDB oracle")
    else None

  def checkBatch(name: String, output: String): Option[String] = entry(name) match {
    case None => Some("NoPin: no pinned output for this query")
    case Some(e) => oracleFailure(e).orElse {
      val want = s"${e.path("rows").asLong()}:${e.path("hash").asText()}"
      if (want == output) None else Some(s"OutputMismatch: got rows:hash $output, pinned $want")
    }
  }

  def checkSchema(name: String, output: String): Option[String] = entry(name) match {
    case None => Some("NoPin: no pinned schema for this query")
    case Some(e) => oracleFailure(e).orElse {
      val want = e.path("schema").asText()
      if (want == output) None else Some(s"OutputMismatch: schema sha1 $output, pinned $want")
    }
  }
}

object Pins {
  def load(path: String): Pins = {
    val p = Paths.get(path)
    new Pins(if (Files.exists(p)) new ObjectMapper().readTree(p.toFile) else null)
  }

  /** Pin mode: one JSON line per work item with its raw output. */
  def write(path: String, rs: Seq[Main.Result]): Unit = {
    val m = new ObjectMapper()
    val lines = rs.map { r =>
      val n = m.createObjectNode()
      n.put("name", r.name).put("output", r.output)
      r.error.foreach(n.put("error", _))
      m.writeValueAsString(n)
    }
    Files.write(Paths.get(path), lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
