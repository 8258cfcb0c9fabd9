package graft.relational

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The shared temp-dir cleanup every write-then-read query ends with. */
class DeleteRecursivelySpec extends AnyFunSuite {

  test("a nested temp tree is removed completely") {
    val root = Files.createTempDirectory("graft_rmrf")
    val deep = Files.createDirectories(root.resolve("a/b/c"))
    Files.writeString(root.resolve("top.txt"), "x")
    Files.writeString(root.resolve("a/mid.txt"), "y")
    Files.writeString(deep.resolve("leaf.parquet"), "z")
    Files.createDirectories(root.resolve("empty"))
    DataPipelineQueries.deleteRecursively(root)
    assert(!Files.exists(root))
  }

  test("a missing path is a no-op") {
    val root = Files.createTempDirectory("graft_rmrf_missing")
    Files.delete(root)
    DataPipelineQueries.deleteRecursively(root)
    DataPipelineQueries.deleteRecursively(root.resolve("never/created"))
    assert(!Files.exists(root))
  }
}
