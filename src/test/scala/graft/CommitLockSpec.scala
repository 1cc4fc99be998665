package graft

import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Maintenance

/** The table commit lock under a holder that outlives the stale-lock
  * threshold: a live holder's lease stays fresh, so a second committer
  * waits instead of breaking in, and a holder never deletes a lock that
  * is no longer its own.
  */
class CommitLockSpec extends AnyFunSuite {

  private def tmpTable(): String =
    java.nio.file.Files.createTempDirectory("graft-lock").resolve("t")
      .toString

  test("a holder whose body outlives staleLockMs keeps the lock: the " +
      "second committer waits, the bodies never overlap") {
    val table = tmpTable()
    val inside = new AtomicInteger(0)
    val maxInside = new AtomicInteger(0)
    def body(ms: Long): Unit = {
      maxInside.accumulateAndGet(inside.incrementAndGet(),
        (a, b) => math.max(a, b))
      Thread.sleep(ms)
      inside.decrementAndGet()
    }
    val first = new Thread(() =>
      Maintenance.withCommitLock(table, staleLockMs = 200L)(body(900L)))
    first.start()
    Thread.sleep(100L) // the first holder is in
    val t0 = System.nanoTime()
    Maintenance.withCommitLock(table, timeoutMs = 10000L,
      staleLockMs = 200L)(body(300L))
    val waitedMs = (System.nanoTime() - t0) / 1000000L
    first.join()
    assert(maxInside.get == 1, "two holders were inside the lock at once")
    assert(waitedMs >= 700L, s"the second holder got in after $waitedMs ms")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(table + "__graft_lock")))
  }

  test("release deletes only a lock that carries the holder's own token") {
    val table = tmpTable()
    val lock = java.nio.file.Paths.get(table + "__graft_lock")
    Maintenance.withCommitLock(table) {
      // another committer took the lock over (as after a break)
      java.nio.file.Files.writeString(lock, "someone-else")
    }
    assert(java.nio.file.Files.readString(lock) == "someone-else",
      "the holder deleted a lock that was no longer its own")
  }
}
