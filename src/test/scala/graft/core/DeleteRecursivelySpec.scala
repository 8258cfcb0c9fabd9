package graft.core

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The temp-dir cleanup behind [[SessionMemo]]'s artifact dirs and
  * every `SessionMemo.withTempDir` scratch dir. */
class DeleteRecursivelySpec extends AnyFunSuite {

  test("a nested temp tree is removed completely") {
    val root = Files.createTempDirectory("graft_rmrf")
    val deep = Files.createDirectories(root.resolve("a/b/c"))
    Files.writeString(root.resolve("top.txt"), "x")
    Files.writeString(root.resolve("a/mid.txt"), "y")
    Files.writeString(deep.resolve("leaf.parquet"), "z")
    Files.createDirectories(root.resolve("empty"))
    SessionMemo.deleteRecursively(root)
    assert(!Files.exists(root))
  }

  test("a missing path is a no-op") {
    val root = Files.createTempDirectory("graft_rmrf_missing")
    Files.delete(root)
    SessionMemo.deleteRecursively(root)
    SessionMemo.deleteRecursively(root.resolve("never/created"))
    assert(!Files.exists(root))
  }
}
