package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The library jar ships a fixed set of entry points. One-off probe
  * mains belong in a scratch checkout, not in `src/main`: a new `main`
  * must be added to this allowlist on purpose.
  */
class MainsSpec extends AnyFunSuite {
  private val allowed = Set(
    "graft.Bench", "graft.Verify", "graft.pipeline.Main",
    "graft.tools.Inspect", "graft.tools.PlanDump")

  /** Fully qualified name of the object enclosing each `def main(`. */
  private def mainObjects(root: Path): Set[String] = {
    val files = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toList
    files.flatMap { f =>
      val lines = Files.readAllLines(f).asScala.toList
      val pkg = lines.collectFirst {
        case l if l.startsWith("package ") => l.stripPrefix("package ").trim
      }.getOrElse("")
      val obj = """^\s*(?:case\s+)?object\s+(\w+).*""".r
      lines.zipWithIndex.collect {
        case (l, i) if l.contains("def main(") =>
          val name = lines.take(i).reverse
            .collectFirst { case obj(n) => n }.getOrElse("?")
          if (pkg.isEmpty) name else s"$pkg.$name"
      }
    }.toSet
  }

  test("src/main defines main only in the allowlisted objects") {
    val found = mainObjects(Paths.get("src/main/scala"))
    assert(found == allowed,
      s"unexpected mains: ${(found -- allowed).toSeq.sorted}; " +
        s"missing: ${(allowed -- found).toSeq.sorted}")
  }
}
