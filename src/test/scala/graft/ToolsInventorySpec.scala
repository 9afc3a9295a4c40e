package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/**
 * Every runnable tool under `graft/tools` is named as `tools.<Name>`
 * where an operator or the suite finds it: README.md, the verify skill
 * (`.claude/skills/verify/SKILL.md`) or a file under `src/test`. A new
 * one-off probe main that nothing documents or runs fails here. A pure
 * file scan from the project directory; no Spark session.
 */
class ToolsInventorySpec extends AnyFunSuite {

  private def read(p: Path): String = new String(Files.readAllBytes(p), UTF_8)

  private def files(dir: String): Seq[Path] = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator.asScala.filter(Files.isRegularFile(_)).toList
    finally s.close()
  }

  /** Objects declaring a `def main`, each main attributed to the nearest
    * `object` declaration (a line that starts with one) before it. */
  private def mainObjects(src: String): Seq[String] =
    raw"(?m)^\s*(?:private\S*\s+|case\s+)*object\s+(\w+)|\bdef\s+main\s*\(".r.findAllMatchIn(src)
      .foldLeft((Option.empty[String], List.empty[String])) {
        case ((_, acc), m) if m.group(1) != null => (Some(m.group(1)), acc)
        case ((obj, acc), _) => (obj, obj.toList ++ acc)
      }._2.distinct

  test("every main under graft/tools is named in README.md, the verify skill or src/test") {
    val toolsDir = "src/main/scala/graft/tools"
    assert(Files.isDirectory(Paths.get(toolsDir)), s"run from the project directory: no $toolsDir")
    val mains = files(toolsDir).filter(_.toString.endsWith(".scala"))
      .flatMap(f => mainObjects(read(f)))
    assert(mains.contains("Profile"), s"main scan found $mains")
    val docs = (Seq(Paths.get("README.md"), Paths.get(".claude/skills/verify/SKILL.md"))
      .filter(Files.exists(_)) ++
      files("src/test").filterNot(_.getFileName.toString == "ToolsInventorySpec.scala"))
      .map(read).mkString("\n")
    val unnamed = mains.filterNot(m => raw"\btools\.$m\b".r.findFirstIn(docs).isDefined)
    assert(unnamed.isEmpty,
      s"tools mains named nowhere (README.md, verify skill, src/test): ${unnamed.mkString(", ")}")
  }
}
