package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** One generated request: `kind` names the operation type (and decides
  * how its response is checked), `check` is the text every result row
  * must carry (empty when the kind needs none; for a `drain`, the Fetch
  * request it repeats), `text` is the request line sent as is — except
  * `{cursor}`, which stands for the cursor id the preceding `begin`
  * returned.
  *
  * Plan files hold one request per line as `kind<TAB>check<TAB>text`;
  * `perfbench/workloads.py` writes them from the seed. */
final case class Req(kind: String, check: String, text: String) {
  def withCursor(id: String): String = text.replace("{cursor}", id)
}

object Plan {
  def read(file: Path): Vector[Req] =
    if (!Files.exists(file)) Vector.empty
    else Files.readAllLines(file, StandardCharsets.UTF_8).asScala.iterator
      .filter(_.nonEmpty)
      .map { l =>
        l.split("\t", 3) match {
          case Array(k, c, t) => Req(k, c, t)
          case _ => throw new IllegalArgumentException(s"bad plan line: $l")
        }
      }.toVector
}
