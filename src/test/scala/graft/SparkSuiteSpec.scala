package graft

import java.nio.file.{Files, Path}

class SparkSuiteSpec extends SparkSuite {

  test("withTempDir deletes its directory after the block, also when the block throws") {
    val kept = withTempDir("graft_loan") { dir =>
      Files.createDirectories(dir.resolve("a/b"))
      Files.writeString(dir.resolve("a/b/f.txt"), "x")
      dir
    }
    assert(!Files.exists(kept))
    var seen: Path = null
    val e = intercept[IllegalStateException] {
      withTempDir("graft_loan") { dir =>
        seen = dir
        Files.writeString(dir.resolve("f.txt"), "x")
        throw new IllegalStateException("loan test: boom")
      }
    }
    assert(e.getMessage == "loan test: boom")
    assert(seen != null && !Files.exists(seen))
  }
}
