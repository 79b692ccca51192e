package perfbench

import java.io.File
import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

/** The generators are pure functions of (seed, sizes): same seed, same
  * bytes in every file they write, expected answers included.
  */
class GenSpec extends AnyFunSuite {

  private def tmp(): File = Files.createTempDirectory("perfbench-gen").toFile

  /** Relative path → bytes of every file under `dir`. */
  private def snapshot(dir: File): Map[String, Seq[Byte]] = {
    val root = dir.toPath
    val files = Files.walk(root).filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path])
    files.map(p => root.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
  }

  private def sameBytes(gen: (File, Long) => Unit): Unit = {
    val (a, b, c) = (tmp(), tmp(), tmp())
    gen(a, 7L); gen(b, 7L); gen(c, 8L)
    val (sa, sb, sc) = (snapshot(a), snapshot(b), snapshot(c))
    assert(sa.nonEmpty && sa.keySet.exists(_.endsWith("expected.json")))
    assert(sa.keySet == sb.keySet)
    sa.foreach { case (f, bytes) => assert(bytes == sb(f), s"$f differs between two runs of seed 7") }
    assert(sa != sc, "a different seed must give different inputs")
  }

  test("HHS weekly files and CMS snapshots are byte-identical for one seed") {
    sameBytes((d, s) => HhsGen.generate(d, s, HhsGen.Sizes(hospitals = 60, weeks = 3, newPerWeek = 2, snapshots = 2)))
  }

  test("warehouse tables are byte-identical for one seed") {
    sameBytes((d, s) => WarehouseGen.generate(d, s, WarehouseGen.Sizes(hospitals = 40, weeks = 12, bedFiles = 3), 3))
  }

  test("the document corpus is byte-identical for one seed") {
    sameBytes((d, s) => CorpusGen.generate(d, s, CorpusGen.Sizes(docs = 400)))
  }

  test("HHS accounting: the plan re-loads one snapshot that inserts nothing, files carry 127 columns") {
    val d = tmp()
    val plan = HhsGen.generate(d, 3L, HhsGen.Sizes(hospitals = 200, weeks = 4, newPerWeek = 3, snapshots = 2))
    // week 0 is the warm-up; week 1 is the first timed load
    assert(plan.map(_.kind) == Seq("hhs", "hhs", "cms", "hhs", "hhs", "cms", "cms"))
    val reload = plan.last.expect.toMap
    // nothing inserts; every valid row is a duplicate
    assert(reload("inserted") == 0L && reload("duplicates") + reload("invalid") == reload("totalRows"))
    assert(reload("duplicates") > 0L)
    val header = scala.io.Source.fromFile(new File(d, plan.head.file)).getLines().next()
    assert(header.split(",").length == 127)
    // week 1 re-sees every week-0 hospital: only the new ones insert
    assert(plan(1).expect.toMap.apply("hospitalsInserted") == 3L)
  }

  test("corpus ledger expectations conserve rows and collapse planted clusters") {
    val docs = Seq(
      CorpusGen.Doc(100, "alpha beta gamma delta epsilon zeta", "s1"),
      CorpusGen.Doc(101, "alpha beta  gamma delta epsilon zeta", "s1"), // near-dup of 100
      CorpusGen.Doc(102, "alpha beta gamma delta epsilon zeta", "s1"),  // exact dup of 100
      CorpusGen.Doc(103, "a b c d e f", "s2"),                         // mean word length 1
      CorpusGen.Doc(104, "too short", "s2"))                           // under 5 words
    val e = CorpusGen.expect(docs, Seq(Seq(100L, 101L)))
    val steps = e.ledger.map(_._1)
    assert(steps == Seq("warc_parse", "word_bounds", "word_len", "exact_dedup", "source_rate",
      "split_train", "near_dup", "budget"))
    e.ledger.zip(e.ledger.drop(1)).foreach { case (a, b) => assert(a._3 == b._2) }
    assert(e.ledger.map(r => (r._1, r._2, r._3)).take(5) == Seq(
      ("warc_parse", 5, 5), ("word_bounds", 5, 4), ("word_len", 4, 3), ("exact_dedup", 3, 2),
      ("source_rate", 2, 2)))
    // 100 and 101 share one component: at most one of them survives
    val nearDup = e.ledger(6)
    assert(nearDup._2 - nearDup._3 == (if (nearDup._2 == 2) 1 else 0))
  }
}
