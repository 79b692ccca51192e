package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Operators never write the caller's session conf: a `conf.set` inside
  * an operator changes how every other query on that session plans
  * while it runs (a streaming foreachBatch, a second thread). Operators
  * that need different settings run under a private session clone
  * ([[org.apache.spark.sql.GraftBridge.scopedSession]], used by
  * [[graft.ext.Rounds]]). This spec scans the operator packages' sources
  * for conf writes so a new one fails the suite. Dev mains at the top of
  * `graft` (SkewCheck and friends) own their session and are not
  * scanned.
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

  private def sources(dirs: Seq[String]): Seq[Path] =
    dirs.map(root.resolve).flatMap { dir =>
      assert(Files.isDirectory(dir), s"$dir is gone — update the scanned packages")
      Files.walk(dir).iterator().asScala
        .filter(_.toString.endsWith(".scala")).toList
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
    val files = sources(packages)
    assert(files.nonEmpty)
    val found = hits(files, write)
    assert(found.isEmpty, "session conf written inside an operator:\n" + found.mkString("\n"))
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
