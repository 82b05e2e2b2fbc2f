package graft

import java.io.File
import java.nio.file.Files

class FixturesSpec extends SparkSpec {

  private def create(table: String): Unit =
    spark.range(3).write.saveAsTable(table)

  test("memo builds once per (table, dir) and again when the dir changes") {
    var builds = 0
    def call(dir: String): String =
      Fixtures.memo(spark, dir, "fixtures_spec_once") { builds += 1; create("fixtures_spec_once") }
    assert(call("/sf/a") == "fixtures_spec_once")
    call("/sf/a")
    assert(builds == 1)
    assert(spark.table("fixtures_spec_once").count() == 3)
    call("/sf/b")
    assert(builds == 2)
    call("/sf/b")
    assert(builds == 2)
    call("/sf/a") // switching back rebuilds: one table holds one dir's build
    assert(builds == 3)
  }

  test("a build that throws leaves the memo unset; the next call builds again") {
    var attempts = 0
    var failOn = Set.empty[Int]
    def call(dir: String): String = Fixtures.memo(spark, dir, "fixtures_spec_retry") {
      attempts += 1
      create("fixtures_spec_retry")
      if (failOn(attempts)) throw new IllegalStateException("build failed")
    }
    failOn = Set(1)
    assert(intercept[IllegalStateException](call("/sf/a")).getMessage == "build failed")
    call("/sf/a")
    assert(attempts == 2)
    call("/sf/a")
    assert(attempts == 2)
    // a failed rebuild for another dir drops the table: the old dir's
    // build is not served from the memo afterwards
    failOn = Set(3)
    intercept[IllegalStateException](call("/sf/b"))
    call("/sf/a")
    assert(attempts == 4)
    assert(spark.table("fixtures_spec_retry").count() == 3)
  }

  test("a memo called from inside another memo's build works") {
    var inner = 0
    var outer = 0
    def innerTbl(dir: String): String =
      Fixtures.memo(spark, dir, "fixtures_spec_inner") { inner += 1; create("fixtures_spec_inner") }
    def outerTbl(dir: String): String = Fixtures.memo(spark, dir, "fixtures_spec_outer") {
      outer += 1
      spark.table(innerTbl(dir)).selectExpr("id * 2 AS id").write.saveAsTable("fixtures_spec_outer")
    }
    assert(spark.table(outerTbl("/sf/a")).collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 2L, 4L))
    innerTbl("/sf/a")
    outerTbl("/sf/a")
    assert((inner, outer) == ((1, 1)))
  }

  test("withScratchDir removes the directory after the block, on success and on exception") {
    var seen: File = null
    val out = Fixtures.withScratchDir("fixtures_spec") { d =>
      seen = d
      assert(d.isDirectory)
      Files.createDirectories(new File(d, "a/b").toPath)
      Files.writeString(new File(d, "a/b/c.txt").toPath, "x")
      42
    }
    assert(out == 42)
    assert(!seen.exists())

    intercept[IllegalStateException] {
      Fixtures.withScratchDir("fixtures_spec") { d =>
        seen = d
        Files.writeString(new File(d, "f.txt").toPath, "x")
        throw new IllegalStateException("body failed")
      }
    }
    assert(seen != null && !seen.exists())
  }
}
