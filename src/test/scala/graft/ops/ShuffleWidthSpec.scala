package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** Pins the input-sized shuffle-width derivation (r12 VERDICT #1):
  * floor at cpus (bench shape unchanged at sf0.1), wave rounding,
  * cap, and the byte walk following symlinks (the sf100 dir links its
  * unchanged sf10 tables). */
class ShuffleWidthSpec extends AnyFunSuite {
  private val MiB = 1024L * 1024

  test("small inputs keep the cpu floor — the sf0.1 bench shape is unchanged") {
    // sf0.1 is ~17.5 MB: under one target partition, still 32 wide
    assert(ShuffleWidth.derive(inputBytes = 18 * MiB, cpus = 32) === 32)
    assert(ShuffleWidth.derive(inputBytes = 0, cpus = 32) === 32)
    // sf1 is ~185 MB → raw 6 → still the floor
    assert(ShuffleWidth.derive(inputBytes = 185 * MiB, cpus = 32) === 32)
  }

  test("sf10-sized input derives the width the r12 probe proved cures the spill family") {
    // sf10 dir = 1.80 GB → ceil(1800/32) = 57 raw → one extra wave = 64,
    // exactly the width that collapsed q22_pagerank's spread (r12)
    assert(ShuffleWidth.derive(inputBytes = 1800 * MiB, cpus = 32) === 64)
    // sf100 mixed dir = 2.38 GB → raw 75 → 96
    assert(ShuffleWidth.derive(inputBytes = 2380 * MiB, cpus = 32) === 96)
    // sf1000 documents dir ≈ 7470 MiB = 7.30 GiB → raw 234 → 256, the
    // width the r13 fourth-decade sweep ran at (SCALE.md's r13/r14
    // notes, in its git history)
    assert(ShuffleWidth.derive(inputBytes = 7470 * MiB, cpus = 32) === 256)
  }

  test("width is a multiple of cpus (full waves) until the cap truncates it") {
    val w = ShuffleWidth.derive(inputBytes = 10L * 1024 * MiB, cpus = 24)
    assert(w % 24 === 0 && w >= 320)         // 10 GiB / 32 MiB = 320 raw
    // cap is an exact ceiling, even when not a cpu multiple
    assert(ShuffleWidth.derive(100L * 1024 * MiB, cpus = 32, cap = 1000) === 1000)
    // default cap bounds a runaway input
    assert(ShuffleWidth.derive(Long.MaxValue / 2, cpus = 32) === ShuffleWidth.DefaultCap)
  }

  test("inputBytes walks the dir recursively and follows symlinks; missing dir is 0") {
    val dir = Files.createTempDirectory("swidth")
    val sub = Files.createDirectory(dir.resolve("sub"))
    Files.write(dir.resolve("a.parquet"), Array.fill[Byte](1000)(1))
    Files.write(sub.resolve("b.parquet"), Array.fill[Byte](500)(2))
    // symlinked table (the sf100 layout): counted at target size
    val tgt = Files.createTempFile("swidth-tgt", ".parquet")
    Files.write(tgt, Array.fill[Byte](250)(3))
    Files.createSymbolicLink(dir.resolve("c.parquet"), tgt)
    assert(ShuffleWidth.inputBytes(dir.toString) === 1750L)
    assert(ShuffleWidth.inputBytes(dir.resolve("nope").toString) === 0L)
    assert(ShuffleWidth.forDir(dir.toString, cpus = 4) === 4) // floor
  }

  test("forTables sizes the workload's table subset, invariant to dir composition") {
    // r16 VERDICT #7: a documents-only replay dir and a mixed dir must
    // derive the SAME width for the same documents table
    val mixed = Files.createTempDirectory("swidth-mixed")
    val docsOnly = Files.createTempDirectory("swidth-docs")
    val docBytes = Array.fill[Byte](40 * 1024 * 1024)(1) // > 1 × TargetBytes
    Files.write(mixed.resolve("documents.parquet"), docBytes)
    Files.write(mixed.resolve("lineitem.parquet"),
      Array.fill[Byte](200 * 1024 * 1024)(2))
    Files.write(docsOnly.resolve("documents.parquet"), docBytes)
    val wMixed = ShuffleWidth.forTables(mixed.toString, Seq("documents"), cpus = 2)
    val wDocs = ShuffleWidth.forTables(docsOnly.toString, Seq("documents"), cpus = 2)
    assert(wMixed === wDocs)
    // whereas the whole-dir walk diverges between the two layouts
    assert(ShuffleWidth.forDir(mixed.toString, cpus = 2) >
      ShuffleWidth.forDir(docsOnly.toString, cpus = 2))
    // directory-shaped tables and missing tables (0 bytes) both resolve
    val dirTable = Files.createDirectory(docsOnly.resolve("events.parquet"))
    Files.write(dirTable.resolve("part-0.parquet"), Array.fill[Byte](1000)(3))
    assert(ShuffleWidth.forTables(docsOnly.toString,
      Seq("documents", "events", "nope"), cpus = 2) === wDocs)
  }

  // r13 VERDICT #4: the sizing heuristic must not be wedged (or skewed)
  // by layout accidents in the input dir.
  test("symlink cycles terminate and count each subtree ONCE") {
    val dir = Files.createTempDirectory("swidth-cyc")
    val other = Files.createTempDirectory("swidth-cyc2")
    Files.write(dir.resolve("a.parquet"), Array.fill[Byte](1000)(1))
    Files.write(other.resolve("b.parquet"), Array.fill[Byte](500)(2))
    // a self-referential link and a two-dir cycle: the naive
    // getContentSummary walk counted this layout ~20x over (measured)
    // before the OS path-length limit stopped the recursion
    Files.createSymbolicLink(dir.resolve("self"), dir.resolve("self"))
    Files.createSymbolicLink(dir.resolve("loop"), other)
    Files.createSymbolicLink(other.resolve("back"), dir)
    assert(ShuffleWidth.inputBytes(dir.toString) === 1500L)
  }

  test("large non-data files next to parquet tables do not inflate the width") {
    val dir = Files.createTempDirectory("swidth-mix")
    Files.write(dir.resolve("t.parquet"), Array.fill[Byte](2000)(1))
    Files.write(dir.resolve("derby.log"), Array.fill[Byte](64 * 1024)(2))
    Files.write(dir.resolve("core.12345"), Array.fill[Byte](64 * 1024)(3))
    // Spark's own scan filter: `_`/`.`-prefixed bookkeeping is ignored
    Files.write(dir.resolve("_SUCCESS"), Array.fill[Byte](10)(4))
    Files.write(dir.resolve(".t.parquet.crc"), Array.fill[Byte](10)(5))
    assert(ShuffleWidth.inputBytes(dir.toString) === 2000L)
  }

  test("the importer's staged feed sizes as the zip copy's length or the sum of its .txt files") {
    // a zip feed is staged as the extension-less single file `gtfs-feed`
    val zipCopy = Files.createTempDirectory("swidth-zip").resolve("gtfs-feed")
    Files.write(zipCopy, Array.fill[Byte](1234)(1))
    assert(ShuffleWidth.inputBytes(zipCopy.toString) === 1234L)
    // a feed dir is staged as a directory of GTFS .txt files
    val feedDir = Files.createTempDirectory("swidth-feed")
    Files.write(feedDir.resolve("stops.txt"), Array.fill[Byte](300)(2))
    Files.write(feedDir.resolve("stop_times.txt"), Array.fill[Byte](700)(3))
    assert(ShuffleWidth.inputBytes(feedDir.toString) === 1000L)
  }

  test("a dir with no recognized data extension still sizes from its total") {
    val dir = Files.createTempDirectory("swidth-raw")
    Files.write(dir.resolve("shard-00000"), Array.fill[Byte](3000)(1))
    Files.write(dir.resolve("shard-00001"), Array.fill[Byte](1000)(2))
    assert(ShuffleWidth.inputBytes(dir.toString) === 4000L)
  }
}
