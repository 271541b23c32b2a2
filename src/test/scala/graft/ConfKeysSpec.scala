package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Guard on the engine's own session-conf keys: the `"spark.graft.`
  * string literals under `src/main/scala` must be exactly the keys
  * listed here. A new switch (an A/B seam or anything else) therefore
  * has to be added to this list, where the change that introduces it
  * shows it. */
class ConfKeysSpec extends AnyFunSuite {

  test("the engine's sources name exactly the known spark.graft.* keys") {
    val literal = "\"(spark\\.graft\\.[^\"]*)\"".r
    val walk = Files.walk(Paths.get("src/main/scala"))
    val sources =
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(sources.nonEmpty, "no sources found — wrong working directory?")
    val keys = sources.flatMap(p =>
      literal.findAllMatchIn(Files.readString(p)).map(_.group(1))).toSet
    assert(keys == Set(
      "spark.graft.delta.crashpoint",
      "spark.graft.skipEagerCut",
      "spark.graft.rewriteWindowTopK"))
  }
}
