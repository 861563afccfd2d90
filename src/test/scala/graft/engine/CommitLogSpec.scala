package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The commit log on its own: lossless ids, atomic entries, and temp
  * files that are never read as entries. */
class CommitLogSpec extends AnyFunSuite {

  private def fields(log: CommitLog, id: String): Seq[String] =
    Files.readString(log.entryPath(id)).linesIterator.toSeq

  test("ids and fields round-trip; temp files and other files are not entries") {
    val log = CommitLog.in(Files.createTempDirectory("graft_log").toString)
    assert(log.ids().isEmpty)
    val ids = Seq("src 0", "é", "a=b", "50%", "__null__", "", ".", "..", "a/b", "%2F",
      "+", "x.commit", "x.tmp", "_manifest_split", "_run_descriptor")
    ids.foreach(id => log.commit(id, Seq("id" -> id, "n" -> "1")))
    assert(log.ids() == ids.toSet)
    ids.foreach(id => assert(fields(log, id) == Seq(s"id=$id", "n=1"), id))

    // a stray temp entry is ignored; a re-commit replaces the entry
    Files.writeString(CommitLog.tempPath(log.entryPath("pending")), "n=2\n")
    Files.writeString(log.dir.resolve("notes.txt"), "n=3\n")
    log.commit("a=b", Seq("n" -> "4"))
    assert(log.ids() == ids.toSet)
    assert(fields(log, "a=b") == Seq("n=4"))
  }

  test("fields that would not round-trip are rejected") {
    val log = CommitLog.in(Files.createTempDirectory("graft_log_bad").toString)
    intercept[IllegalArgumentException](log.commit("u", Seq("a=b" -> "1")))
    intercept[IllegalArgumentException](log.commit("u", Seq("a" -> "1\n2")))
    assert(log.ids().isEmpty)
  }

  test("writeAtomic replaces a file whole and leaves no temp behind") {
    val dir = Files.createTempDirectory("graft_atomic")
    val f = dir.resolve("desc")
    assert(CommitLog.read(f).isEmpty)
    CommitLog.writeAtomic(f, "none")
    CommitLog.writeAtomic(f, "bucket:3")
    assert(CommitLog.read(f).contains("bucket:3"))
    assert(Files.list(dir).count() == 1L)
  }
}
