package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** [[FoldDriver.Ledger]], the per-id accounting record every replay-fed
  * composition's exactly-once pins read: a missing record, a re-delivered
  * id, and a crash between the tmp write and the rename.
  */
class LedgerSpec extends AnyFunSuite {

  private def withDir(body: String => Unit): Unit = {
    val dir = Files.createTempDirectory("graft-ledger-spec").toString
    try body(dir)
    finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("a missing ledger reads as (-1, empty)") {
    withDir { dir =>
      val ledger = new FoldDriver.Ledger(s"$dir/progress")
      assert(ledger.read() == ((-1L, Map.empty[String, Long])))
      assert(ledger("events") == 0L)
    }
  }

  test("advance applies once per id: an id at or below the last is a no-op") {
    withDir { dir =>
      val ledger = new FoldDriver.Ledger(s"$dir/progress")
      def add(n: Long)(m: Map[String, Long]) =
        m.updated("events", m.getOrElse("events", 0L) + n)
      ledger.advance(0L)(add(5L))
      ledger.advance(1L)(add(7L))
      var calls = 0
      ledger.advance(1L) { m => calls += 1; add(100L)(m) } // re-delivered
      ledger.advance(0L) { m => calls += 1; add(100L)(m) } // older still
      assert(calls == 0, "a re-delivered id must not even run the update")
      assert(ledger.read() == ((1L, Map("events" -> 12L))))
      ledger.advance(3L)(_.updated("wm.0", -4L))
      assert(ledger.read() == ((3L, Map("events" -> 12L, "wm.0" -> -4L))),
        "values survive the round trip, negative ones included")
    }
  }

  test("a leftover .tmp from a crash before the rename leaves the previous record readable") {
    withDir { dir =>
      val path = s"$dir/progress"
      val ledger = new FoldDriver.Ledger(path)
      ledger.advance(4L)(_ => Map("events" -> 40L, "deletes" -> 3L))
      // the crash: the next record's tmp is (partly) written, never renamed
      Files.write(Paths.get(path + ".tmp"),
        "5\nevents=4".getBytes(StandardCharsets.UTF_8))
      assert(ledger.read() == ((4L, Map("events" -> 40L, "deletes" -> 3L))))
      // the resumed consumer re-delivers batch 5 and overwrites the tmp
      ledger.advance(5L)(m => m.updated("events", m("events") + 2L))
      assert(ledger.read() == ((5L, Map("events" -> 42L, "deletes" -> 3L))))
    }
  }
}
