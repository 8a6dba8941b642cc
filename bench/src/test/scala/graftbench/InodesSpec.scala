package graftbench

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

class InodesSpec extends AnyFunSuite {
  test("a hard-linked file is counted once, and as a link, not a write") {
    val root = Files.createTempDirectory("bench-inodes")
    val d1 = Files.createDirectories(root.resolve("data/dim_cards/v1"))
    Files.write(d1.resolve("part-0.parquet"), Array.fill[Byte](100)(1))
    Files.write(d1.resolve("part-1.parquet"), Array.fill[Byte](40)(2))
    val before = Inodes.snapshot(root)
    assert(before.bytes == 140)

    // the next version rewrites one bucket and hard-links the other
    val d2 = Files.createDirectories(root.resolve("data/dim_cards/v2"))
    Files.write(d2.resolve("part-0.parquet"), Array.fill[Byte](30)(3))
    Files.createLink(d2.resolve("part-1.parquet"), d1.resolve("part-1.parquet"))
    val after = Inodes.snapshot(root)

    assert(after.files.size == 4)
    assert(after.bytes == 170) // 100 + 40 + 30: the link adds no bytes
    assert(after.newSince(before) == (1, 30L))
    assert(after.linkedSince(before) == 1)
  }
}
