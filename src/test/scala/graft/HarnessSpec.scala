package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {

  test("tmpfsScratch gives each process its own directory and removes only dead siblings") {
    assume(Files.isDirectory(Paths.get("/dev/shm")), "no /dev/shm on this host")
    val root = Paths.get("/dev/shm", s"graft_harness_spec_${System.nanoTime()}")
    val self = ProcessHandle.current().pid()
    val dead = { val p = new ProcessBuilder("true").start(); p.waitFor(); p.pid() }
    val alive = ProcessHandle.current().parent().get().pid()
    Seq(dead, alive, self).foreach(pid =>
      Files.createDirectories(root.resolve(s"$pid/left")))
    val prev = sys.props.get("graft.scratch")
    try {
      System.clearProperty("graft.scratch")
      val set = Harness.tmpfsScratch(root.getFileName.toString)
      assert(set.contains(root.resolve(self.toString)))
      assert(sys.props.get("graft.scratch").contains(s"$root/$self"))
      assert(!Files.exists(root.resolve(dead.toString)), "a dead pid's tree survived")
      assert(Files.exists(root.resolve(s"$alive/left")), "a live pid's tree was wiped")
      assert(!Files.exists(root.resolve(s"$self/left")), "own leftovers survived")
      // a preset scratch root is respected
      assert(Harness.tmpfsScratch(root.getFileName.toString).isEmpty)
      assert(sys.props.get("graft.scratch").contains(s"$root/$self"))
    } finally {
      prev.fold(System.clearProperty("graft.scratch"))(
        System.setProperty("graft.scratch", _))
      graft.store.UpsertWriter.deleteRecursively(root)
    }
  }
}
