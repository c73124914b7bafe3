package graft

import java.nio.file.{Files, LinkOption, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** Scratch.sweepStale reclaims dirs of dead JVMs; a symbolic link
  * among them must be removed as a link and never descended into, or
  * a planted link would make the sweep delete its target's contents. */
class ScratchSpec extends AnyFunSuite {

  // a pid no live process has
  private val deadPid = Long.MaxValue - 1

  // the scratch root Scratch picks (/dev/shm, or java.io.tmpdir)
  private def root: Path = Paths.get(Scratch.replayCkBase()).getParent

  private def withTarget(body: (Path, Path) => Unit): Unit = {
    val target = Files.createTempDirectory("graft-scratch-target")
    val kept = Files.writeString(target.resolve("kept.txt"), "kept")
    try body(target, kept)
    finally { Files.deleteIfExists(kept); Files.deleteIfExists(target) }
  }

  test("sweepStale deletes a dead-pid symlink without following it") {
    withTarget { (target, kept) =>
      val link = root.resolve(s"graft-local-$deadPid")
      Files.deleteIfExists(link)
      Files.createSymbolicLink(link, target)
      Scratch.sweepStale()
      assert(!Files.exists(link, LinkOption.NOFOLLOW_LINKS))
      assert(Files.exists(kept))
    }
  }

  test("sweepStale removes a link inside a dead-pid dir, not its target") {
    withTarget { (target, kept) =>
      val dead = root.resolve(s"graft-replay-ck-$deadPid")
      Scratch.rm(dead.toFile)
      Files.createDirectory(dead)
      Files.createSymbolicLink(dead.resolve("ck"), target)
      Scratch.sweepStale()
      assert(!Files.exists(dead, LinkOption.NOFOLLOW_LINKS))
      assert(Files.exists(kept))
    }
  }
}
