package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Operators never write the caller's session conf: a `conf.set` inside
  * an operator changes how every other query on that session plans
  * while it runs (a streaming foreachBatch, a second thread). Operators
  * that need different settings run under a private session clone
  * ([[org.apache.spark.sql.GraftBridge.scopedSession]], used by
  * [[graft.ext.Rounds]]). This spec scans every source under `graft`,
  * the top-level mains and gate files included, for conf writes so a
  * new one fails the suite.
  *
  * The set of mains is fixed: Bench, Verify, TierTable, AragonDemo and
  * the dev tool Inspect. A measured claim about an operator belongs in
  * a spec that asserts it, not in a main that prints it.
  *
  * The same scan holds the one-barrier rule: operators and gates cut
  * lineage through [[org.apache.spark.sql.GraftBridge.persistCutFrame]],
  * whose blocks are freed by their handle and recomputed if lost.
  * `localCheckpoint`, which drops the lineage, stays in two places:
  * `AragonPipeline.snapshot`, whose dropped lineage is its isolation,
  * and the stage cuts of the q215 corpus build, whose lineage would pin
  * every earlier stage on the driver until the build's last collect.
  * The loaders under `graft/aragon` hold their per-load frames as cuts
  * too: no `.cache()` or `.persist(` is left there.
  */
class SessionConfAuditSpec extends org.scalatest.funsuite.AnyFunSuite {

  private val root = Paths.get("src/main/scala/graft")
  private val packages =
    Seq("ext", "ops", "aragon", "functions", "sources", "streaming", "plans")
  private val write =
    """\bconf\s*\.\s*(set|unset)\w*\s*\(|\b(setConfString|unsetConf)\s*\(""".r

  private val localCheckpoint = """\blocalCheckpoint\s*\(""".r
  private val cache = """\.\s*(cache\s*\(\s*\)|persist\s*\()""".r

  private def allSources(dir: Path): Seq[Path] =
    Files.walk(dir).iterator().asScala.filter(_.toString.endsWith(".scala")).toList

  private def sources(dirs: Seq[String]): Seq[Path] =
    dirs.map(root.resolve).flatMap { dir =>
      assert(Files.isDirectory(dir), s"$dir is gone — update the scanned packages")
      allSources(dir)
    }

  private final case class Hit(file: Path, line: Int, text: String) {
    override def toString = s"$file:${line + 1}: ${text.trim}"
  }

  private def hits(files: Seq[Path], pattern: scala.util.matching.Regex): Seq[Hit] =
    for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if pattern.findFirstIn(code(line)).isDefined
    } yield Hit(f, i, line)

  /** The line numbers of the q215 gate's body in ExtQueries4. */
  private def q215Body(f: Path): Range = {
    val lines = Files.readAllLines(f).asScala
    val from = lines.indexWhere(_.contains("\"q215_corpus_build\""))
    assert(from >= 0, s"q215 not found in $f")
    from until lines.indexWhere(_.trim.matches("""val q\d+ = Q\("""), from)
  }

  private def code(line: String): String = {
    val t = line.trim
    if (t.startsWith("*") || t.startsWith("/*")) ""
    else line.indexOf("//") match {
      case -1 => line
      case i => line.substring(0, i)
    }
  }

  test("no operator package writes session conf") {
    val files = allSources(root)
    assert(files.exists(_.getParent == root) && sources(packages).forall(files.contains))
    val found = hits(files, write)
    assert(found.isEmpty, "session conf written inside an operator:\n" + found.mkString("\n"))
  }

  test("the set of mains is Bench, Verify, TierTable, AragonDemo and Inspect") {
    val obj = """\bobject\s+(\w+)""".r
    val main = """\bdef\s+main\s*\(|\bobject\s+\w+\s+extends\s+App\b""".r
    // each main is named by the last object declared at or above it
    val mains = for {
      f <- allSources(Paths.get("src/main/scala"))
      lines = Files.readAllLines(f).asScala.map(code)
      (line, i) <- lines.zipWithIndex
      if main.findFirstIn(line).isDefined
    } yield lines.take(i + 1).flatMap(obj.findAllMatchIn(_).map(_.group(1))).last
    assert(mains.toSet == Set("Bench", "Verify", "TierTable", "AragonDemo", "Inspect"),
      s"mains: ${mains.sorted.mkString(", ")}. A measured claim about an operator " +
        "belongs in a spec that asserts it, not in a main that prints it")
  }

  test("operators and gates cut through GraftBridge; localCheckpoint only in AragonPipeline.snapshot and q215") {
    val gates = Files.list(root).iterator().asScala.filter { f =>
      val n = f.getFileName.toString
      n == "CoreQueries.scala" || (n.startsWith("ExtQueries") && n.endsWith(".scala"))
    }.toList
    assert(gates.size >= 5, s"gate sources not found: $gates")
    val q215 = q215Body(root.resolve("ExtQueries4.scala"))
    val found = hits(sources(packages.filterNot(_ == "aragon")) ++ gates, localCheckpoint)
      .filterNot(h => h.file.getFileName.toString == "ExtQueries4.scala" && q215.contains(h.line))
    assert(found.isEmpty, "localCheckpoint in operator or gate code:\n" + found.mkString("\n"))
    val aragon = hits(sources(Seq("aragon")), localCheckpoint)
    assert(aragon.size == 1 && aragon.head.file.getFileName.toString == "AragonPipeline.scala" &&
      aragon.head.text.contains("def snapshot"), aragon.mkString("\n"))
  }

  test("the loaders hold their per-load frames as GraftBridge cuts: no cache or persist in aragon") {
    val found = hits(sources(Seq("aragon")), cache)
    assert(found.isEmpty, "cache/persist in graft/aragon:\n" + found.mkString("\n"))
  }

  test("the scan sees a conf write") {
    assert(write.findFirstIn(code("""    spark.conf.set("spark.sql.adaptive.enabled", "false")""")).isDefined)
    assert(write.findFirstIn(code("""    sess.conf.unset("k")""")).isDefined)
    assert(write.findFirstIn(code("""    SQLConf.get.setConfString("k", "v")""")).isDefined)
    assert(write.findFirstIn(code("""    val v = spark.conf.get("k") // conf.set here is a comment""")).isEmpty)
    assert(localCheckpoint.findFirstIn(code("""      .localCheckpoint(false)""")).isDefined)
    assert(cache.findFirstIn(code("""    val raw = readRaw(spark, csvPath).cache()""")).isDefined)
    assert(cache.findFirstIn(code("""      .persist(StorageLevel.MEMORY_ONLY)""")).isDefined)
    assert(cache.findFirstIn(code("""    res.unpersist()""")).isEmpty)
  }
}
