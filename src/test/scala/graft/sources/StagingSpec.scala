package graft.sources

import java.io.File
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The staging contract (ADVICE r5): reuse is gated on the completion
  * marker, never on directory existence — a partially-failed prior attempt
  * must be wiped and re-staged, and a completed one must not re-run.
  */
class StagingSpec extends AnyFunSuite with graft.TempDirs {

  test("partial prior staging (dir without marker) is wiped and re-staged") {
    val dir = tempDir("graft_staging_spec") + "/stage"
    new File(dir).mkdirs()
    Files.write(Paths.get(dir, "stale.bin"), "stale".getBytes("UTF-8"))
    Staging.ensure(dir) { out =>
      assert(!new File(out, "stale.bin").exists(), "partial attempt must be wiped first")
      Files.write(Paths.get(out, "fresh.bin"), "fresh".getBytes("UTF-8"))
    }
    assert(!new File(dir, "stale.bin").exists())
    assert(new File(dir, "fresh.bin").exists())
    assert(new File(dir, Staging.Marker).exists())
  }

  test("completed staging is reused — the body does not re-run") {
    val dir = tempDir("graft_staging_spec") + "/stage"
    Staging.ensure(dir) { out =>
      Files.write(Paths.get(out, "a.bin"), "a".getBytes("UTF-8"))
    }
    var reran = false
    Staging.ensure(dir) { _ => reran = true }
    assert(!reran)
    assert(new File(dir, "a.bin").exists())
  }

  test("a failing staging body leaves no marker, so the next call retries") {
    val dir = tempDir("graft_staging_spec") + "/stage"
    intercept[RuntimeException] {
      Staging.ensure(dir) { out =>
        Files.write(Paths.get(out, "half.bin"), "half".getBytes("UTF-8"))
        throw new RuntimeException("simulated mid-stage failure")
      }
    }
    assert(!new File(dir, Staging.Marker).exists())
    Staging.ensure(dir) { out =>
      Files.write(Paths.get(out, "full.bin"), "full".getBytes("UTF-8"))
    }
    assert(!new File(dir, "half.bin").exists(), "retry must not see half-staged data")
    assert(new File(dir, "full.bin").exists())
  }

  test("cleanup deletes this application's graft_ dirs and no one else's") {
    // the staging root and java.io.tmpdir, as two roots; an application id
    // that extends this one must not match it
    val (stage, tmp) = (tempDir("graft-cleanup-stage"), tempDir("graft-cleanup-tmp"))
    val app = "local-1700000000000"
    def make(root: String, name: String): File = {
      val d = new File(root, name)
      new File(d, "part").mkdirs()
      Files.write(Paths.get(d.getPath, "part", "f.bin"), "x".getBytes("UTF-8"))
      d
    }
    val mine = Seq(make(stage, s"graft_streamann_${app}_1a2b"),
      make(tmp, s"graft_bkt_$app"), make(tmp, s"graft_streamcep_state_${app}_3"))
    val others = Seq(make(stage, s"graft_streamann_${app}1_1a2b"),
      make(tmp, s"graft_bkt_${app}1"), make(tmp, "graft_spillscale_1a2b"),
      make(tmp, s"kept_${app}_1"))
    Staging.cleanup(app, Seq(stage, tmp))
    mine.foreach(d => assert(!d.exists(), s"$d survived the cleanup"))
    others.foreach(d => assert(new File(d, "part/f.bin").exists(), s"$d was deleted"))
  }
}
