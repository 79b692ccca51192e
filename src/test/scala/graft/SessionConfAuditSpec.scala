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
  */
class SessionConfAuditSpec extends org.scalatest.funsuite.AnyFunSuite {

  private val root = Paths.get("src/main/scala/graft")
  private val packages =
    Seq("ext", "ops", "aragon", "functions", "sources", "streaming", "plans")
  private val write =
    """\bconf\s*\.\s*(set|unset)\w*\s*\(|\b(setConfString|unsetConf)\s*\(""".r

  private def code(line: String): String = {
    val t = line.trim
    if (t.startsWith("*") || t.startsWith("/*")) ""
    else line.indexOf("//") match {
      case -1 => line
      case i => line.substring(0, i)
    }
  }

  test("no operator package writes session conf") {
    val files = packages.map(root.resolve).flatMap { dir =>
      assert(Files.isDirectory(dir), s"$dir is gone — update the scanned packages")
      Files.walk(dir).iterator().asScala
        .filter(_.toString.endsWith(".scala")).toList
    }
    assert(files.nonEmpty)
    val hits = for {
      f: Path <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if write.findFirstIn(code(line)).isDefined
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, "session conf written inside an operator:\n" + hits.mkString("\n"))
  }

  test("the scan sees a conf write") {
    assert(write.findFirstIn(code("""    spark.conf.set("spark.sql.adaptive.enabled", "false")""")).isDefined)
    assert(write.findFirstIn(code("""    sess.conf.unset("k")""")).isDefined)
    assert(write.findFirstIn(code("""    SQLConf.get.setConfString("k", "v")""")).isDefined)
    assert(write.findFirstIn(code("""    val v = spark.conf.get("k") // conf.set here is a comment""")).isEmpty)
  }
}
