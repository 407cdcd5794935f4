package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** Pins the memoized-staging contract the file-source streaming queries
  * rely on (`ScratchDirs.cached`): one build per key per JVM — at
  * rehearsal scales a rebuild is a multi-GB scratch write — and a
  * NOT-yet-existing build path (dataset writers refuse an existing
  * directory without overwrite mode). */
class ScratchDirsSpec extends AnyFunSuite {

  test("cached builds once per key and hands the builder a fresh path") {
    var builds = 0
    def build(p: String): Unit = {
      builds += 1
      assert(!Files.exists(Paths.get(p)), s"build path pre-exists: $p")
      Files.createDirectories(Paths.get(p))
    }
    val d1 = ScratchDirs.cached("scratchspec-key")(build)
    val d2 = ScratchDirs.cached("scratchspec-key")(build)
    assert(d1 === d2)
    assert(builds === 1, "second call must reuse, not rebuild")
    assert(Files.isDirectory(Paths.get(d1)))
    val other = ScratchDirs.cached("scratchspec-key2")(build)
    assert(other !== d1)
    assert(builds === 2)
  }

  test("checkpoints land under the tmpfs root and the shared cleanup removes them") {
    val tmpfs = ScratchDirs.tmpfs
    // the production root: every ephemeral checkpoint sits on tmpfs when
    // it is writable, else under the JVM temp dir beside the datasets
    val ckpt = Paths.get(graft.ScratchDirs.checkpoint("scratchspec-ckpt"))
    assert(Files.isDirectory(ckpt))
    tmpfs.foreach(t => assert(ckpt.startsWith(t), s"$ckpt is not under $t"))
    // a private root of the SAME class (the production one is deleted only
    // at exit): a checkpoint tree under it goes with one clean()
    val root = new ScratchDirs.Root(tmpfs, "graft-scratchspec-root")
    val d = Paths.get(root.dir("ckpt"))
    Files.createDirectories(d.resolve("offsets"))
    Files.writeString(d.resolve("offsets/0"), "v1")
    tmpfs.foreach(t => assert(d.startsWith(t)))
    assert(d.startsWith(root.path))
    root.clean()
    assert(!Files.exists(d) && !Files.exists(root.path))
  }

  test("cached keys with path characters stay distinct after sanitizing") {
    val a = ScratchDirs.cached("k-/root/testdata/sf0.01") { p =>
      Files.createDirectories(Paths.get(p))
    }
    val b = ScratchDirs.cached("k-/root/testdata/sf0.1") { p =>
      Files.createDirectories(Paths.get(p))
    }
    assert(a !== b, "distinct keys must map to distinct datasets")
  }
}
