package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The library's only executables are the benchmark, the oracle dump and
  * the scale-data generator. One-off measurement mains belong in a
  * benchmark run or a spec, not in the main source tree. */
class EntryPointSpec extends AnyFunSuite {
  private val allowed = Set("graft/Bench.scala", "graft/Verify.scala", "graft/ScaleData.scala")

  test("only Bench, Verify and ScaleData define a main") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"$root not found from ${Paths.get("").toAbsolutePath}")
    val entry = raw"\bdef\s+main\s*\(|\bextends\s+App\b".r
    val withMain = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => entry.findFirstIn(Files.readString(p)).nonEmpty)
      .map(p => root.relativize(p).toString.replace('\\', '/')).toSet
    assert((withMain -- allowed).isEmpty, s"entry points outside $allowed: ${withMain -- allowed}")
  }
}
