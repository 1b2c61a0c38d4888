package perfbench

import scala.io.Source

/** Result hashes recorded from the engine's seed commit, one
  * `query<TAB>hash<TAB>rows` line each.
  */
object Expected {
  def load(path: String): Map[String, (String, Long)] = {
    val src = Source.fromFile(path, "UTF-8")
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(q, h, n) = l.split("\t")
      q -> (h, n.toLong)
    }.toMap
    finally src.close()
  }
}
