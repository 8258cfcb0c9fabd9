package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Engine temp directories have one owner, `graft.core.SessionMemo`: its
  * memo entries and its `withTempDir` scratch dirs are the only ones
  * `src/main` creates, they all live under `java.io.tmpdir`, and only the
  * owner deletes them. A query that creates or deletes its own temp dir,
  * or hard-codes a `/tmp/` path, is a leak or a misplaced dir waiting to
  * happen. */
class TempDirOwnerSpec extends AnyFunSuite {

  private val Owner = Paths.get("src/main/scala/graft/core/SessionMemo.scala")

  /** (file, "file:line: text") of every line under `src/main/scala` matching `re`. */
  private def hits(re: scala.util.matching.Regex): Seq[(Path, String)] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: ${root.toAbsolutePath}")
    val walk = Files.walk(root)
    val files = try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    finally walk.close()
    for {
      f <- files.sorted
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if re.findFirstIn(line).isDefined
    } yield (f, s"$f:${i + 1}: ${line.trim}")
  }

  test("only graft.core.SessionMemo creates or deletes temp dirs") {
    val outside = hits("""createTempDirectory|deleteRecursively""".r)
      .filterNot(_._1 == Owner).map(_._2)
    if (outside.nonEmpty)
      fail(s"${outside.size} sites outside $Owner:\n${outside.mkString("\n")}")
  }

  test("src/main holds no hard-coded /tmp/ path literal") {
    val literals = hits("\"/tmp/".r).map(_._2)
    if (literals.nonEmpty)
      fail(s"${literals.size} literals; use SessionMemo.withTempDir:\n${literals.mkString("\n")}")
  }
}
