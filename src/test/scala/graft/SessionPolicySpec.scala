package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The session policy lives in `Sessions` alone. A second builder or a
  * second ANSI setting lets one entry point drift from the others, and
  * turning ANSI mode on must stay a one-file edit. Environment variables
  * are read by entry points only: a variable read deep in the engine is a
  * second, untested code path that no caller can see. */
class SessionPolicySpec extends AnyFunSuite {
  private val banned = Seq("""SparkSession\s*\.\s*builder""".r, """spark\.sql\.ansi\.enabled""".r)
  private val allowed = Set("Sessions.scala", "SessionPolicySpec.scala")

  private def sourceFiles(dir: String): Seq[Path] = {
    val root = Paths.get(dir)
    assert(Files.isDirectory(root), s"no $dir/ under ${root.toAbsolutePath}")
    Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
  }

  private def matches(f: Path, patterns: Seq[scala.util.matching.Regex]): Boolean = {
    val text = new String(Files.readAllBytes(f), "UTF-8")
    patterns.exists(_.findFirstIn(text).isDefined)
  }

  test("only Sessions builds a SparkSession or sets ANSI mode") {
    val files = sourceFiles("src")
    def hits(f: Path): Boolean = matches(f, banned)
    val sessions = files.filter(_.getFileName.toString == "Sessions.scala")
    assert(sessions.size == 1 && hits(sessions.head), "Sessions.scala must build the session")
    val offenders = files.filter(f => !allowed(f.getFileName.toString) && hits(f))
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("only entry points read environment variables") {
    val envReads = Seq("""sys\.env\b""".r, """System\.getenv\b""".r)
    val entryPoints = Set("graft/Sessions.scala", "graft/Bench.scala", "graft/Verify.scala",
      "graft/ScalingBench.scala", "graft/cli/Main.scala")
    val main = Paths.get("src/main/scala")
    val offenders = sourceFiles(main.toString)
      .filter(f => !entryPoints(main.relativize(f).toString) && matches(f, envReads))
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
