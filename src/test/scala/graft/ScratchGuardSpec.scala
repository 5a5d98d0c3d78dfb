package graft

import java.nio.channels.{FileChannel, OverlappingFileLockException}
import java.nio.file.{Files, StandardOpenOption}

import org.scalatest.funsuite.AnyFunSuite

class ScratchGuardSpec extends AnyFunSuite {

  test("first run after boot: an absent dir is created and its live " +
      "lock held, so a sibling's exclusive sweep is refused") {
    val dir = SparkSuite.tempDir("graft_guard").resolve("scratch")
    assert(!Files.exists(dir))
    ScratchGuard.sweepAndHold(dir.toString, sweep = false)
    assert(Files.isDirectory(dir))
    // a sibling's startup sweep asks for the EXCLUSIVE lock first
    val sibling = FileChannel.open(dir.resolve(".graft-live"),
      StandardOpenOption.READ, StandardOpenOption.WRITE)
    try intercept[OverlappingFileLockException](
      sibling.tryLock(0L, Long.MaxValue, false))
    finally sibling.close()
  }
}
