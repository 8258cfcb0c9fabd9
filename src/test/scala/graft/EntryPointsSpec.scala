package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** `src/main` ships the engine plus exactly three entry points: the gate's
  * dump (`Verify`), the bench (`Bench`) and the plan printer (`Explain`).
  * A profiling question is answered by the benchmark's traced run
  * (`pfsabench/run.py --trace 1`), not by a new main in the library. */
class EntryPointsSpec extends AnyFunSuite {

  private val ObjectDecl = """\bobject\s+(\w+)""".r
  private val PackageDecl = """(?m)^package\s+([\w.]+)""".r

  /** Fully qualified name of every object in `file` that declares a
    * `def main(` — the object is the last one opened before the def. */
  private def entryPoints(file: Path): Seq[String] = {
    val src = Files.readString(file)
    val pkg = PackageDecl.findFirstMatchIn(src).map(_.group(1) + ".").getOrElse("")
    """\bdef\s+main\s*\(""".r.findAllMatchIn(src).map { m =>
      val obj = ObjectDecl.findAllMatchIn(src.substring(0, m.start)).toSeq.lastOption
        .map(_.group(1)).getOrElse(file.getFileName.toString)
      pkg + obj
    }.toSeq
  }

  test("src/main declares exactly the Bench, Verify and Explain mains") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: ${root.toAbsolutePath}")
    val walk = Files.walk(root)
    val found = try walk.iterator().asScala
        .filter(_.toString.endsWith(".scala")).flatMap(entryPoints).toSeq
    finally walk.close()
    assert(found.sorted === Seq("graft.Bench", "graft.Explain", "graft.Verify"))
  }
}
